package graft

import org.apache.spark.sql.DataFrame

/** Shared serving-workload driver: the mixed query load every serving
  * claim is measured against (r12 VERDICT items 1/5/8). One workload
  * definition, two consumers — [[Bench]] (the `serve:*` rows, at any
  * store size its `SPARK_GRAFT_SF_DIR` points at) and specs.
  *
  * The mix is 4 shapes round-robin over an n-query run, terms drawn
  * from the index's 60 highest-df entries so the workload hits real
  * postings: single-term lookup, boolean AND through the query
  * grammar, exact phrase, and BM25-ranked top-10 — the ranked leg runs
  * the REAL index-served ranker ([[operators.Query.searchRankedIndexOn]]:
  * bucket-pruned leaf fetch + the manifests' document lengths), not a
  * tf-ordered lookup stand-in (the r12 gap: the measured serving story
  * didn't cover the engine's own headline ranker).
  */
object Serving {

  final case class MixResult(latencies: Map[String, Vector[Double]],
                             unpruned: Int,
                             shapes: Seq[String] =
                               Seq("term", "bool", "phrase", "ranked")) {
    def all: Vector[Double] = shapes.flatMap(latencies.getOrElse(_, Vector.empty)).toVector
    def p(shape: String, q: Double): Double =
      pct(if (shape == "all") all else latencies.getOrElse(shape, Vector.empty), q)
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) -1.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, (p * s.size).toInt))
    }

  /** The index's top-`n` terms by document frequency — the term pool
    * the workload draws from. One index pass, done once per mix setup
    * (a serving deployment's warm dictionary, not a per-query cost).
    */
  def vocabOf(spark: org.apache.spark.sql.SparkSession, idxPath: String,
              n: Int = 60): Array[String] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    sources.IndexStore.load(spark, idxPath)
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(n)
      .collect().map(_.getString(0))
  }

  /** `langs` non-empty widens the 4-shape mix with the two r14
    * serving surfaces: `fielded` (`lang:<l> AND term` — `_meta` side
    * table must exist at `idxPath`) and `fuzzy` (`term~1` — served
    * via the `_fuzzy` SymSpell probe when that table is current, else
    * the full-dictionary levenshtein scan; exempt from the pruning
    * counter because the scan fallback cannot bucket-prune by
    * design).
    *
    * Every shape runs its `*On` query against an index handle:
    * `prepared` = one [[sources.IndexStore.open]] handle for the whole
    * mix, otherwise one one-query handle per query — exactly what the
    * per-query calls (`lookup`, `searchIndex`, `searchRankedIndex`)
    * run.
    */
  def mix(spark: org.apache.spark.sql.SparkSession, idxPath: String,
          nBuckets: Int, vocab: Array[String], nQueries: Int = 100,
          prepared: Boolean = false,
          langs: Array[String] = Array.empty): MixResult = {
    // fielded queries interpolate lang values into the query grammar —
    // restrict them to the grammar's token charset (r15): a metadata
    // value carrying whitespace/':'/'~'/parens from a real corpus made
    // parse throw and abort the whole serve block through the catch-all
    val safeLangs = langs.filter(l =>
      l.nonEmpty && l.forall(c => c.isLetterOrDigit || c == '_' || c == '-'))
    val shapes =
      if (safeLangs.isEmpty) Array("term", "bool", "phrase", "ranked")
      else Array("term", "bool", "phrase", "ranked", "fielded", "fuzzy")
    // prepared = the serving-session shape (r13 verdict item 7): ONE
    // IndexStore.open pins the store's file listing, its `_docs`
    // manifests, the `_meta`/`_fuzzy` side tables and the plan of the
    // dead-key set (superseded segment versions + takedowns), which the
    // first query holds once; every query plans against the held frames
    // instead of re-listing the store and re-reading the `_docs`
    // manifests and tombstones — the per-query planning floor. Without
    // it each query opens its own one-query handle, resolving `_meta`
    // for the fielded shape and `_fuzzy` for the fuzzy one. Results are
    // parity-specced identical, only latency may differ.
    val held = if (prepared) Some(sources.IndexStore.open(spark, idxPath, nBuckets))
               else None
    def handle(meta: Boolean = false, fuzzy: Boolean = false) = held.getOrElse(
      sources.IndexStore.openOnce(spark, idxPath, nBuckets, meta = meta, fuzzy = fuzzy))
    // with a current `_fuzzy` SymSpell table, the fuzzy shape's
    // candidate-probe postings fetch must bucket-prune like any term
    // lookup — only the dictionary-scan fallback (no table, or one a
    // later landing left behind) earns the pruning-counter exemption
    val fuzzyScans = !sources.IndexStore.fuzzyCurrent(spark, idxPath)
    def mkQuery(i: Int): (String, () => DataFrame) = {
      val t1 = vocab(i % vocab.length)
      val t2 = vocab((i * 7 + 3) % vocab.length)
      val shape = shapes(i % shapes.length)
      shape -> (shape match {
        case "term" => () => sources.IndexStore.lookupOn(handle(), t1)
        case "bool" => () => operators.Query.searchIndexOn(handle(), s"$t1 AND $t2")
        case "phrase" => () =>
          operators.Query.searchIndexOn(handle(), "\"" + t1 + " " + t2 + "\"")
        case "ranked" => () =>
          operators.Query.searchRankedIndexOn(handle(), s"$t1 OR $t2", k = 10)
        case "fielded" =>
          val q = s"lang:${safeLangs(i % safeLangs.length)} AND $t1"
          () => operators.Query.searchIndexOn(handle(meta = true), q)
        case "fuzzy" => () => operators.Query.searchIndexOn(handle(fuzzy = true), s"$t1~1")
      })
    }
    var unpruned = 0
    def run(i: Int): (String, Double) = {
      val (shape, mk) = mkQuery(i)
      val t0 = System.nanoTime()
      val df = mk()
      df.queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      // an index scan without a term_bucket partition filter is the
      // regression this counter exists for. The table-less fuzzy
      // fallback is exempt: its dictionary scan reads every bucket BY
      // CONTRACT (an edit can land in any bucket), so an unpruned
      // term_bucket scan is its correct plan
      if (!(shape == "fuzzy" && fuzzyScans) && !Explain.prunes(df, Explain.TermBucket))
        unpruned += 1
      shape -> dt
    }
    val results = (0 until nQueries).map(run)
    MixResult(
      results.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toVector },
      unpruned, shapes.toSeq)
  }
}
