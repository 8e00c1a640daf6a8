package graft.operators

import graft.functions.PostingsFns
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Boolean/phrase query-string surface over the positional index —
  * the user-facing retrieval API of a search engine (the reference
  * stores positional postings so exactly these queries can run).
  *
  * Grammar (precedence low→high, parentheses + quoted phrases):
  * {{{
  *   query  := or
  *   or     := and (OR and)*
  *   and    := near (AND near)*
  *   near   := unary (NEAR/k unary)*   — operands must be bare terms
  *   unary  := NOT unary | '(' query ')' | '"' term+ '"' ['~' k]
  *           | term '~' [d] | term
  * }}}
  *
  * Evaluation is document-at-a-time over positional postings
  * (Zobel & Moffat, "Inverted Files for Text Search Engines", 2006):
  * the query's leaf postings — one index fetch, or the token stream
  * cut to the leaf terms — group ONCE by document into a
  * `term → sorted positions` map, and the whole AST compiles to one
  * boolean Column over that frame. Term leaves test key presence,
  * prefix/fuzzy leaves scan the keys, phrase/slop/NEAR leaves run a
  * codegen'd merge-walk window kernel over the position lists, and
  * AND/OR/NOT are the boolean operators (NOT ranges over the document
  * universe, `lang:`/`source:` leaves over the metadata rows). One
  * shuffle per query, whatever the AST's shape; nothing is evaluated
  * on the driver. At 100 TB the fetch touches only the query terms'
  * postings (one scan-pruned filter), never the corpus.
  */
object Query {

  sealed trait Q
  final case class Term(t: String) extends Q
  final case class Boost(t: String, w: Double) extends Q
  final case class Field(f: String, v: String) extends Q
  /** TEXT-field-scoped term (`title:spark` — r15): matches `t` in the
    * named text field's token stream, vs [[Field]]'s METADATA equality
    * (`lang:en`). Needs a fielded token source ([[searchFielded]] or
    * a [[Index.fieldedInvertedIndexOf]] index).
    */
  final case class TField(f: String, t: String) extends Q
  final case class Prefix(p: String) extends Q
  final case class Fuzzy(t: String, d: Int) extends Q
  final case class Phrase(ts: Seq[String]) extends Q
  final case class PhraseSlop(ts: Seq[String], k: Int) extends Q
  final case class Near(l: String, r: String, k: Int) extends Q
  final case class And(l: Q, r: Q) extends Q
  final case class Or(l: Q, r: Q) extends Q
  final case class Not(q: Q) extends Q

  /** Recursive-descent parser for the grammar above. Bare words are
    * query terms; AND/OR/NOT (case-sensitive keywords) are operators.
    */
  def parse(s: String): Q = {
    val toks = s.replace("(", " ( ").replace(")", " ) ").replace("\"", " \" ")
      .trim.split("\\s+").filter(_.nonEmpty).toList
    var rest = toks
    def peek: Option[String] = rest.headOption
    def next(): String = { val h = rest.head; rest = rest.tail; h }
    def expect(t: String): Unit = {
      val got = if (rest.isEmpty) "<end>" else next()
      require(got == t, s"expected '$t', got '$got' in query: $s")
    }
    def unary(): Q = peek match {
      case Some("NOT") => next(); Not(unary())
      case Some("(") => next(); val q = or(); expect(")"); q
      case Some("\"") =>
        next()
        val ws = Iterator.continually(peek)
          .takeWhile(h => h.isDefined && h.get != "\"")
          .map(_ => next()).toVector
        expect("\"")
        require(ws.nonEmpty, s"empty phrase in query: $s")
        // Lucene-style slop suffix: "a b"~k keeps word ORDER but
        // allows up to k extra positions between consecutive words
        peek match {
          case Some(t) if t.startsWith("~") =>
            next()
            val k = t.drop(1).toInt
            require(k >= 0, s"slop must be non-negative in query: $s")
            require(ws.size >= 2, s"slop needs a multi-word phrase in query: $s")
            PhraseSlop(ws, k)
          case _ => if (ws.size == 1) Term(ws.head) else Phrase(ws)
        }
      case Some(w) if w != "AND" && w != "OR" && w != ")" && !w.startsWith("NEAR/") =>
        next()
        // trailing-* wildcard = dictionary prefix query (the parser
        // surface of prefixSearch); bare '*' alone is rejected
        if (w.startsWith("lang:") || w.startsWith("source:")) {
          val i = w.indexOf(':'); Field(w.take(i), w.drop(i + 1))
        }
        // text-field prefixes scope a TERM to one field's stream
        else if (w.startsWith("title:") || w.startsWith("body:")) {
          val i = w.indexOf(':')
          require(w.length > i + 1, s"empty fielded term in query: $s")
          TField(w.take(i), w.drop(i + 1))
        }
        else if (w.endsWith("*") && w.length > 1) Prefix(w.dropRight(1))
        // Lucene-style boost suffix on a bare term: spark^3 — a
        // RANKING weight only; matching is the plain term leaf
        else if (w.length > 1 && w.indexOf('^') > 0) {
          val i = w.lastIndexOf('^')
          val (base, suffix) = (w.take(i), w.drop(i + 1))
          require(suffix.nonEmpty && suffix.forall(_.isDigit) && suffix.toInt >= 1,
            s"boost must be a positive integer in query: $s")
          Boost(base, suffix.toInt.toDouble)
        }
        // Lucene-style fuzzy suffix on a bare term: spark~1, spark~2,
        // or spark~ (edit distance defaults to 2, Lucene's cap)
        else if (w.length > 1 && w.indexOf('~') > 0) {
          val i = w.lastIndexOf('~')
          val (base, suffix) = (w.take(i), w.drop(i + 1))
          val d = if (suffix.isEmpty) 2 else suffix.toInt
          require(d >= 1 && d <= 2, s"fuzzy distance must be 1 or 2 in query: $s")
          Fuzzy(base, d)
        }
        else Term(w)
      case other => throw new IllegalArgumentException(
        s"unexpected ${other.getOrElse("<end>")} in query: $s")
    }
    def near(): Q = {
      var q = unary()
      while (peek.exists(_.startsWith("NEAR/"))) {
        val k = next().drop("NEAR/".length).toInt
        require(k > 0, s"NEAR window must be positive in query: $s")
        (q, unary()) match {
          case (Term(a), Term(b)) => q = Near(a, b, k)
          case _ => throw new IllegalArgumentException(
            s"NEAR operands must be bare terms in query: $s")
        }
      }
      q
    }
    def and(): Q = {
      var q = near()
      while (peek.contains("AND")) { next(); q = And(q, near()) }
      q
    }
    def or(): Q = {
      var q = and()
      while (peek.contains("OR")) { next(); q = Or(q, and()) }
      q
    }
    val q = or()
    require(rest.isEmpty, s"trailing tokens '${rest.mkString(" ")}' in query: $s")
    q
  }

  // ---- the evaluator: one per-document predicate over one fetch ------

  /** Column names of the evaluator's per-document frame. */
  private val PosMap = "__postings"
  private val InUniverse = "__in_universe"

  /** The positions-map key of a leaf term: the term itself over an
    * unfielded source, `field term` over a fielded one (a token never
    * holds whitespace, so the two parts cannot run together). Plain
    * leaves of a fielded source read the default `body` field.
    */
  private def keyOf(fielded: Boolean, t: String, f: String = "body"): String =
    if (fielded) s"$f $t" else t

  /** The distinct metadata (`lang:`/`source:`) leaves of an AST. */
  private def fieldLeaves(q: Q): Seq[(String, String)] = q match {
    case Field(f, v) => Seq((f, v))
    case And(l, r) => (fieldLeaves(l) ++ fieldLeaves(r)).distinct
    case Or(l, r) => (fieldLeaves(l) ++ fieldLeaves(r)).distinct
    case Not(inner) => fieldLeaves(inner)
    case _ => Nil
  }

  private def hasNot(q: Q): Boolean = q match {
    case Not(_) => true
    case And(l, r) => hasNot(l) || hasNot(r)
    case Or(l, r) => hasNot(l) || hasNot(r)
    case _ => false
  }

  /** The AST's value on a document that holds none of its leaf terms:
    * Some(false) when no such document can match, otherwise Some(true)
    * or None (the answer rides its metadata or universe membership).
    * Only when it is not Some(false) do the universe / `_meta` rows
    * join the evaluation as documents of their own.
    */
  private def leafless(q: Q): Option[Boolean] = q match {
    case Field(_, _) => None
    case Not(inner) => leafless(inner).map(!_)
    case And(l, r) => (leafless(l), leafless(r)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (leafless(l), leafless(r)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case _ => Some(false)
  }

  /** The AST as one boolean Column over the per-document frame:
    * posting leaves test the document's `term → sorted positions` map
    * (key presence, a key scan for prefix/fuzzy, the
    * [[graft.functions.PostingsFns.within]] kernel for positional
    * leaves), metadata leaves read their per-document flag, NOT is
    * "in the universe and not the operand". Every leaf is non-null, so
    * the boolean algebra is two-valued.
    */
  private def predicate(q: Q, fielded: Boolean, flags: Map[(String, String), String]): Column = {
    val m = col(PosMap)
    def key(t: String) = keyOf(fielded, t)
    def anyKey(p: Column => Column) = exists(map_keys(m), p)
    def pred(q: Q): Column = q match {
      case Term(t) => map_contains_key(m, lit(key(t)))
      case Boost(t, _) => map_contains_key(m, lit(key(t))) // a boost weighs ranking only
      case TField(f, t) =>
        require(fielded,
          s"text-field query '$f:$t' needs a fielded token source — " +
            "searchFielded on a corpus, or an index built with " +
            "Index.fieldedInvertedIndexOf")
        map_contains_key(m, lit(keyOf(fielded, t, f)))
      case Prefix(p) => anyKey(_.startsWith(key(p)))
      case Fuzzy(t, d) =>
        // a shared `field ` prefix leaves the edit distance unchanged
        anyKey(k => k.startsWith(key("")) && levenshtein(k, lit(key(t))) <= d)
      case Phrase(ts) => PostingsFns.within(m, ts.map(key), 1, 1)
      // ordered like Phrase, each step admitting gaps of 1..k+1
      case PhraseSlop(ts, k) => PostingsFns.within(m, ts.map(key), 1, k + 1)
      // unordered within ±k, never the same position
      case Near(a, b, k) =>
        PostingsFns.within(m, Seq(key(a), key(b)), 1, k) ||
          PostingsFns.within(m, Seq(key(b), key(a)), 1, k)
      case Field(f, v) => coalesce(col(flags((f, v))), lit(false))
      case And(l, r) => pred(l) && pred(r)
      case Or(l, r) => pred(l) || pred(r)
      case Not(inner) => coalesce(col(InUniverse), lit(false)) && !pred(inner)
    }
    pred(q)
  }

  /** The ids of the documents `q` matches — the one query evaluator.
    *
    * `rows` are the query's leaf postings, one row per (id, [field,]
    * term) with its sorted `positions`: an index fetch
    * ([[leafPostings]]) or a grouped token stream ([[tokenLeafRows]]).
    * They group ONCE by id into a `term → positions` map, and the
    * whole AST runs as one filter over that frame ([[predicate]]):
    * one shuffle for the leaves, no per-node join.
    *
    * Documents without any leaf term join in only when the AST can
    * match one ([[leafless]]): the `universe` (the ids NOT ranges
    * over) when a NOT can hold there, and the `meta` rows (the ids
    * `lang:`/`source:` leaves range over) when a metadata leaf can.
    * Otherwise `meta` joins the leaf documents only for its flags, and
    * `universe` stays out of the plan.
    */
  private def matchesOf(rows: DataFrame, q: Q, id: String, universe: => DataFrame,
                        meta: DataFrame): DataFrame = {
    val fielded = rows.columns.contains("field")
    val key = if (fielded) concat_ws(" ", col("field"), col("term")) else col("term")
    val byDoc = rows.groupBy(col(id))
      .agg(map_from_entries(collect_list(struct(key, col("positions")))).as(PosMap))
    val outer = !leafless(q).contains(false)
    val docs =
      if (outer && hasNot(q))
        universe.select(col(id), lit(true).as(InUniverse)).join(byDoc, Seq(id), "left")
      else byDoc.withColumn(InUniverse, lit(true))
    val fields = fieldLeaves(q)
    val flags = fields.zipWithIndex.map { case (fv, i) => fv -> s"__field$i" }.toMap
    val framed =
      if (fields.isEmpty) docs
      else {
        // absent metadata fails loudly
        require(meta != null,
          s"field query '${fields.head._1}:${fields.head._2}' needs a metadata " +
            "frame (for a saved index: IndexStore.saveMeta beside the build)")
        val hits = fields.map { case (f, v) => max(col(f) === v).as(flags((f, v))) }
        val perDoc = meta.groupBy(col(id)).agg(hits.head, hits.tail: _*)
        docs.join(perDoc, Seq(id), if (outer) "full_outer" else "left")
      }
    val withMap =
      if (outer) framed.withColumn(PosMap,
        coalesce(col(PosMap), typedLit(Map.empty[String, Seq[Long]])))
      else framed
    withMap.filter(predicate(q, fielded, flags)).select(col(id))
  }

  /** The leaf-term filter of a term column: exact terms, prefixes and
    * (on a scan) fuzzy terms, OR'd; `lit(false)` for a query with none.
    */
  private def leafHit(terms: Seq[String], prefixes: Seq[String],
                      fuzzy: Seq[(String, Int)]): Column =
    ((if (terms.isEmpty) Nil else Seq(col("term").isin(terms.distinct: _*))) ++
      prefixes.distinct.map(col("term").startsWith) ++
      fuzzy.distinct.map { case (t, d) => levenshtein(col("term"), lit(t)) <= d })
      .reduceOption(_ || _).getOrElse(lit(false))

  /** The leaf rows of a corpus query: the positional token stream
    * (`id, term, [field,] pos`) cut to the query's leaf terms and
    * grouped per (id, [field,] term) to sorted positions. A fuzzy
    * leaf expands against the stream's AGGREGATED vocabulary (distinct
    * terms), which then semi-joins back — the [[Index.fuzzyTermOf]]
    * probe — so no per-token edit distance runs.
    */
  private def tokenLeafRows(tok: DataFrame, q: Q, id: String): DataFrame = {
    val (ts, ps, fz) = leaves(q)
    val hit = leafHit(ts, ps, fz)
    val leafToks =
      if (fz.isEmpty) tok.filter(hit)
      else tok.join(broadcast(tok.select("term").distinct().filter(hit)), Seq("term"), "left_semi")
    val keys = Seq(col(id)) ++
      (if (tok.columns.contains("field")) Seq(col("field")) else Nil) :+ col("term")
    leafToks.groupBy(keys: _*).agg(sort_array(collect_list(col("pos"))).as("positions"))
  }

  /** [[matchesOf]] over a document corpus's token stream. */
  private def corpusMatches(docs: DataFrame, tok: DataFrame, q: Q, id: String): DataFrame =
    matchesOf(tokenLeafRows(tok, q, id), q, id, docs.select(col(id)).distinct(), meta = docs)

  /** Parse + run a query string against a document corpus. */
  def search(docs: DataFrame, query: String, id: String = "doc_id",
             text: String = "text"): DataFrame =
    corpusMatches(docs, Index.tokenStreamOf(docs, id, text), parse(query), id)

  /** [[search]] over MULTIPLE text fields (r15): `fields` names each
    * field's text column ([[Index.fieldedTokenStreamOf]]); plain
    * leaves match the mandatory `body` field, `title:term` leaves
    * their own. Each document's positions map is keyed by field and
    * term, so fielded, plain and metadata (`lang:`) leaves compose in
    * the same per-document predicate.
    */
  def searchFielded(docs: DataFrame, query: String,
                    fields: Map[String, org.apache.spark.sql.Column],
                    id: String = "doc_id"): DataFrame = {
    require(fields.contains("body"),
      "fielded search needs a 'body' field — the grammar's default scope")
    corpusMatches(docs, Index.fieldedTokenStreamOf(docs, fields, id), parse(query), id)
  }

  /** The exact-term, prefix, and fuzzy leaves of an AST — what a
    * saved-index evaluation must fetch.
    */
  private def leaves(q: Q): (Seq[String], Seq[String], Seq[(String, Int)]) = q match {
    case Term(t) => (Seq(t), Nil, Nil)
    case Boost(t, _) => (Seq(t), Nil, Nil)
    case Field(_, _) => (Nil, Nil, Nil)
    // a fielded term fetches the SAME bucket-pruned postings as the
    // plain term; the positions map keys them by field
    case TField(_, t) => (Seq(t), Nil, Nil)
    case Prefix(p) => (Nil, Seq(p), Nil)
    case Fuzzy(t, d) => (Nil, Nil, Seq((t, d)))
    case Phrase(ts) => (ts, Nil, Nil)
    case PhraseSlop(ts, _) => (ts, Nil, Nil)
    case Near(a, b, _) => (Seq(a, b), Nil, Nil)
    case And(l, r) =>
      val (a, b, c) = leaves(l); val (d, e, f) = leaves(r); (a ++ d, b ++ e, c ++ f)
    case Or(l, r) =>
      val (a, b, c) = leaves(l); val (d, e, f) = leaves(r); (a ++ d, b ++ e, c ++ f)
    case Not(inner) => leaves(inner)
  }

  /** Parse + run a query string against a SAVED index
    * ([[graft.sources.IndexStore]]) instead of re-tokenizing a corpus —
    * the index-once / query-many path the reference builds its index
    * for, read-latest: [[searchIndexOn]] over a one-query handle
    * ([[graft.sources.IndexStore.openOnce]]) that resolves `_meta` only
    * for a field leaf and `_fuzzy` only for a fuzzy leaf. The result's
    * one column is the index's id ([[graft.sources.IndexStore.OpenIndex.id]]).
    */
  def searchIndex(spark: SparkSession, indexPath: String, query: String,
                  nBuckets: Int = graft.sources.IndexStore.DefaultBuckets): DataFrame =
    searchIndexOn(openFor(spark, indexPath, nBuckets, parse(query)), query)

  /** [[searchIndex]] against an index handle. The query's leaves arrive
    * in ONE fetch ([[leafPostings]]: exact terms bucket-pruned, prefix
    * leaves with a pushed StartsWith), and the stored position lists
    * feed [[matchesOf]] as they are — the same evaluator as the corpus
    * path, so only the leaf source changes, and it reads ≤ |query
    * terms| / nBuckets of the index.
    *
    * The call reads the handle's ONE snapshot: the leaves and the NOT
    * universe both come off its [[graft.sources.IndexStore.OpenIndex.idx]],
    * and the universe enters the plan only when the query needs it.
    * NOT ranges over the INDEXED documents (the index has no row for a
    * zero-token document — same universe the reference's artifact
    * defines). Against a serving handle ([[graft.sources.IndexStore.open]])
    * the index listing, its dead-key set and `_meta` are resolved ONCE
    * per handle instead of per query (the measured per-query planning
    * floor of the serving mix); takedowns/segments landed after `open`
    * need a re-open.
    */
  def searchIndexOn(oi: graft.sources.IndexStore.OpenIndex,
                    query: String): DataFrame = {
    val ast = parse(query)
    matchesOf(leafPostings(oi, ast), ast, oi.id, oi.universe, oi.meta.orNull)
  }

  /** The one-query handle of a per-query call: `_meta` resolved only
    * when the query has a field leaf, `_fuzzy` only when it has a fuzzy
    * leaf.
    */
  private def openFor(spark: SparkSession, indexPath: String, nBuckets: Int,
                      ast: Q): graft.sources.IndexStore.OpenIndex =
    graft.sources.IndexStore.openOnce(spark, indexPath, nBuckets,
      meta = fieldLeaves(ast).nonEmpty, fuzzy = leaves(ast)._3.nonEmpty)

  /** The posting rows a query's leaves need, fetched from the handle's
    * resolved index relation in ONE filtered scan: exact-term leaves
    * bucket-pruned, prefix leaves by a pushed StartsWith (term-sorted
    * row groups prune inside each bucket), fuzzy leaves through the
    * `_fuzzy` table when there is one. Each posting row arrives at
    * most once, however many leaves it serves. Returns (id, term, tf,
    * positions[, field]) rows — the leaf source of [[searchIndexOn]]
    * and of [[searchRankedIndexOn]] (which also reads tf and per-term
    * row counts off the SAME fetch).
    */
  private def leafPostings(oi: graft.sources.IndexStore.OpenIndex, ast: Q): DataFrame = {
    val (ts, ps, fz) = leaves(ast)
    // fuzzy leaves can't bucket-prune directly (an edit can land in
    // any bucket). With the `_fuzzy` SymSpell side table the leaf
    // resolves to its candidate TERM SET first (variant-IN probe +
    // exact verify, a bounded driver collect like the hybrid path's
    // term list), and the candidates fetch bucket-pruned beside the
    // exact terms; without it, the declared fallback is the
    // full-dictionary levenshtein scan
    val table = if (fz.isEmpty) None else oi.fuzzy
    val (probed, scanned) =
      if (table.isEmpty) (Nil, fz)
      else fz.distinct.partition(_._2 <= graft.sources.IndexStore.FuzzyMaxEdits)
    val cands = probed.flatMap { case (t, d) =>
      graft.sources.IndexStore.fuzzyTermsVia(table.get, t, d)
        .collect().map(_.getString(0)).toSeq
    }
    val exact = (ts ++ cands).distinct
    val byTerm =
      if (exact.isEmpty) lit(false) else graft.sources.IndexStore.termsIn(exact, oi.nBuckets)
    // a pure-field query (`lang:en`) fetches nothing: the filter is
    // false and its evaluation rides `_meta` alone
    oi.idx.filter(byTerm || leafHit(Nil, ps, scanned)).drop("term_bucket")
  }

  /** The positive (non-negated) words of a query — the terms ranking
    * should score. NOT-subtrees only exclude documents.
    */
  def positiveTerms(q: Q): Seq[String] = q match {
    case Term(t) => Seq(t)
    case Boost(t, _) => Seq(t)
    case Field(_, _) => Seq.empty
    // a fielded term retrieves but does not rank (per-field scoring —
    // BM25F — is a different weighting model; the body tf of a
    // title-matched doc still scores via any plain leaves)
    case TField(_, _) => Seq.empty
    // a prefix or fuzzy leaf retrieves but does not rank: scoring
    // would need the expanded term set, which only the match step
    // materializes
    case Prefix(_) => Seq.empty
    case Fuzzy(_, _) => Seq.empty
    case Phrase(ts) => ts
    case PhraseSlop(ts, _) => ts
    case Near(a, b, _) => Seq(a, b).distinct
    case And(l, r) => (positiveTerms(l) ++ positiveTerms(r)).distinct
    case Or(l, r) => (positiveTerms(l) ++ positiveTerms(r)).distinct
    case Not(_) => Seq.empty
  }

  /** The per-term ranking boosts of a query's [[Boost]] leaves (max
    * wins when a term is boosted twice); unboosted terms weigh 1.
    */
  def boostWeights(q: Q): Map[String, Double] = q match {
    case Boost(t, w) => Map(t -> w)
    case And(l, r) =>
      (boostWeights(l).toSeq ++ boostWeights(r).toSeq)
        .groupBy(_._1).map { case (t, ws) => t -> ws.map(_._2).max }
    case Or(l, r) =>
      (boostWeights(l).toSeq ++ boostWeights(r).toSeq)
        .groupBy(_._1).map { case (t, ws) => t -> ws.map(_._2).max }
    case _ => Map.empty
  }

  /** [[search]] plus BM25 ranking (k1=1.2, b=0.75) of the matches by
    * the query's positive terms — the full retrieve-then-rank path of
    * a search engine. [[Boost]] leaves (`term^3`) multiply their
    * term's BM25 contribution. Matching and corpus statistics come off
    * the same token stream (shared scan via exchange reuse); the score
    * join runs on the match set, not the corpus.
    */
  def searchRanked(docs: DataFrame, query: String, k: Int = 20,
                   id: String = "doc_id", text: String = "text"): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val ast = parse(query)
    val terms = positiveTerms(ast)
    val boosts = boostWeights(ast)
    require(terms.nonEmpty, s"query has no positive terms to rank by: $query")
    val tok = Index.tokenStreamOf(docs, id, text)
    // meta = the doc frame itself, like [[search]]: fielded (lang:/
    // source:) restrictions compose with ranking on the corpus path too
    val matches = corpusMatches(docs, tok, ast, id)
    val nDf = docs.agg(count(lit(1)).cast("double").as("n"))
    val dl = tok.groupBy(id).agg(count(lit(1)).cast("double").as("dl"))
    val avgdlDf = dl.agg(avg(col("dl")).as("avgdl"))
    val df = tok.groupBy("term")
      .agg(countDistinct(col(id)).cast("double").as("df"))
    val tf = tok.filter(col("term").isin(terms: _*))
      .join(matches, Seq(id), "left_semi")
      .groupBy(col(id), col("term")).agg(count(lit(1)).cast("double").as("tf"))
    tf.join(broadcast(df.filter(col("term").isin(terms: _*))), "term")
      .join(dl, id)
      .crossJoin(broadcast(nDf)).crossJoin(broadcast(avgdlDf))
      .withColumn("w",
        boosts.foldLeft(lit(1.0)) { case (acc, (t, bw)) =>
          when(col("term") === t, lit(bw)).otherwise(acc)
        } *
          log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(id).agg(round(sum(col("w")), 4).as("score"))
      .orderBy(col("score").desc, col(id))
      .limit(k)
  }

  /** [[searchRanked]] served from a SAVED index — the retrieve-then-
    * rank path a deployment actually runs (r12 VERDICT item 1: the
    * corpus path re-tokenizes the whole corpus per query, the plan
    * you'd never run at 100 TB), read-latest: [[searchRankedIndexOn]]
    * over a one-query handle, opened like [[searchIndex]]'s. Everything
    * per-query rides the ONE bucket-pruned leaf fetch [[searchIndexOn]]
    * already does:
    *
    *   - matching: the same evaluator ([[matchesOf]]) over the
    *     fetched position lists;
    *   - tf: the stored per-posting `tf` column of the fetched rows;
    *   - df: a per-term row count over the SAME fetch — a bucket-pruned
    *     term fetch returns the term's COMPLETE posting list, so df
    *     needs no side table (tombstones/segment versions resolve in
    *     the fetch);
    *   - dl: each layout's `_docs` manifest carries its documents'
    *     lengths (dl involves terms not in the query — the one
    *     statistic a leaf fetch cannot supply), resolved through the
    *     same dead-key set as the postings
    *     ([[graft.sources.IndexStore.OpenIndex.dl]]); n and avgdl are
    *     one aggregate over those live rows, planned as literals. All
    *     three are exact at every snapshot — after landings, re-landed
    *     updates, takedowns and folds alike — with no refresh step.
    *
    * Per query the read is ≤ |query terms|/nBuckets of the index plus
    * one column-pruned pass of the doc-count-sized manifests; no
    * corpus scan anywhere. Score semantics (BM25 k1=1.2 b=0.75, boosts, ties,
    * rounding) are [[searchRanked]]'s exactly — parity-specced row for
    * row on the gate corpora. `n` counts INDEXED docs (a zero-token doc
    * never enters the index; corpora with empty docs shift the corpus
    * path's n but not the result set, since ranked output requires a
    * positive-term match).
    *
    * Scoring is one pass over the fetch: every matching document's
    * positive-term postings join their term's df (broadcast) and the
    * document's live dl, and sum into a rounded score; the top k are
    * taken last. Its layout scans are bucket-pruned at planning time,
    * and it carries no corpus scan and no nested-loop join
    * (`searchranked_index` audits all three).
    */
  def searchRankedIndex(spark: SparkSession, indexPath: String, query: String,
                        k: Int = 20,
                        nBuckets: Int = graft.sources.IndexStore.DefaultBuckets): DataFrame =
    searchRankedIndexOn(openFor(spark, indexPath, nBuckets, parse(query)), query, k)

  /** [[searchRankedIndex]] against an index handle — the one ranked
    * plan; over a serving handle ([[graft.sources.IndexStore.open]])
    * it reads the held frames (see [[searchIndexOn]] for the snapshot
    * contract).
    */
  def searchRankedIndexOn(oi: graft.sources.IndexStore.OpenIndex,
                          query: String, k: Int = 20): DataFrame = {
    val id = oi.id
    val (k1, b) = (1.2, 0.75)
    val ast = parse(query)
    val terms = positiveTerms(ast)
    val boosts = boostWeights(ast)
    require(terms.nonEmpty, s"query has no positive terms to rank by: $query")
    // n and avgdl: the handle's live corpus scalars, planned as
    // literals (collected once per handle; a store whose manifests
    // carry no dl fails here, naming the upgrade)
    val (n, avgdl) = oi.corpus
    val postings = leafPostings(oi, ast)
    // the universe frame only enters the plan when the query can match
    // a document without its terms (`x OR NOT y`); a NOT-less ranked
    // query never scans beyond its terms' buckets
    val matches = matchesOf(postings, ast, id, oi.universe, oi.meta.orNull)
    // over a FIELDED index, ranking scores the BODY field's tf only
    // (title rows would double-count the title tokens; per-field
    // weighting — BM25F — is a different model)
    val ranked0 = postings.filter(col("term").isin(terms: _*))
    val ranked = (if (postings.columns.contains("field"))
        ranked0.filter(col("field") === "body") else ranked0)
      .select(col(id), col("term"), col("tf").cast("double").as("tf"))
    // df rides the same complete-list fetch
    val df = ranked.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val boostCol = boosts.foldLeft(lit(1.0)) { case (acc, (t, bw)) =>
      when(col("term") === t, lit(bw)).otherwise(acc)
    }
    // every scored doc has a live dl row: both sides resolve through
    // the handle's one dead-key set
    ranked.join(matches, Seq(id), "left_semi")
      .join(broadcast(df), "term")
      .join(oi.dl, Seq(id))
      .withColumn("w", boostCol *
        log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
        (col("tf") * (k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(id).agg(round(sum(col("w")), 4).as("score"))
      .orderBy(col("score").desc, col(id))
      .limit(k)
  }

  /** Gate query: a fixed compound query over the documents table. */
  def querySearch(spark: SparkSession, dir: String): DataFrame =
    search(Tables.documents(spark, dir), """"key order" OR (spark AND NOT slow)""")
      .orderBy("doc_id")

  /** Gate query: trailing-* prefix wildcard inside the boolean
    * grammar ([[Prefix]] — the parser surface of the dictionary
    * prefix lookup `prefix_search` exposes as a standalone operator).
    */
  def wildcardSearch(spark: SparkSession, dir: String): DataFrame =
    search(Tables.documents(spark, dir), "quer* AND NOT slow")
      .orderBy("doc_id")

  /** Gate query: a 3-term quoted phrase — exercises the n-term
    * positional chain of the window kernel (each step one merge walk
    * over the next word's positions; 2-term `phrase_search` is the
    * shortest instance).
    */
  def phrase3Search(spark: SparkSession, dir: String): DataFrame =
    search(Tables.documents(spark, dir), "\"small query line\"")
      .orderBy("doc_id")

  /** Gate query: the NEAR/k proximity operator inside the boolean
    * grammar ([[Near]] — the parser surface of `proximity_search`),
    * composed with AND NOT.
    */
  def queryNear(spark: SparkSession, dir: String): DataFrame =
    search(Tables.documents(spark, dir), "spark NEAR/4 join AND NOT slow")
      .orderBy("doc_id")

  /** Gate query: sloppy-phrase retrieval — `"key order"~2` keeps the
    * word ORDER (unlike the symmetric NEAR) but admits up to 2 extra
    * positions between the words; composed through the same boolean
    * AND/NOT plan as every other leaf.
    */
  def querySlop(spark: SparkSession, dir: String): DataFrame =
    search(Tables.documents(spark, dir), "\"key order\"~2 AND NOT slow")
      .orderBy("doc_id")

  /** Gate query: the full retrieve-then-rank path — boolean matching
    * through the grammar, then BM25 over the query's positive terms
    * ([[searchRanked]], the same path `Cli query` serves). One
    * positive term keeps the per-doc score a single contribution
    * (no cross-engine fold-order concern at the gate; multi-term
    * ranking is exercised by `bm25_topk`'s fixed-term twin).
    */
  def queryRanked(spark: SparkSession, dir: String): DataFrame =
    searchRanked(Tables.documents(spark, dir), "spark AND NOT slow", k = 20)

  /** Gate query: Lucene-style boost — `spark^3` triples the term's
    * BM25 contribution in the ranked path ([[Boost]]; matching is
    * unchanged — a boost weighs, it never filters). One boosted
    * positive term keeps the per-doc score a single contribution,
    * like [[queryRanked]]; the multi-term weighted sum is exercised
    * by the boost-parity spec.
    */
  def queryBoost(spark: SparkSession, dir: String): DataFrame =
    searchRanked(Tables.documents(spark, dir), "spark^3 AND NOT slow", k = 20)

  /** Gate query: Lucene-style fuzzy leaf — `spark~2` expands to every
    * vocabulary term within edit distance 2 ([[Fuzzy]], the grammar
    * surface of [[Index.fuzzyTermOf]]), composed with AND NOT through
    * the same boolean plan as every other leaf. The expansion runs on
    * the aggregated dictionary, never the token stream.
    */
  def queryFuzzy(spark: SparkSession, dir: String): DataFrame =
    search(Tables.documents(spark, dir), "spark~2 AND NOT slow")
      .orderBy("doc_id")

  /** Gate query: metadata field restriction inside the boolean
    * grammar ([[Field]] — `lang:`/`source:` leaves read per-document
    * flags off the doc frame, composing with term leaves in the same
    * per-document predicate), the fielded-search surface every search
    * engine exposes.
    */
  def queryField(spark: SparkSession, dir: String): DataFrame =
    search(Tables.documents(spark, dir), "lang:en AND (spark OR query) AND NOT source:src0")
      .orderBy("doc_id")

  /** Gate query: per-field text search (r15 — [[TField]]): the
    * `title:` leaf matches inside the synthesized title field (the
    * corpus' first [[Index.TitleTokens]] tokens — it has no separate
    * title text; the machinery takes any real field column), composed
    * with a plain body term through the boolean AND.
    */
  def fieldSearch(spark: SparkSession, dir: String): DataFrame =
    searchFielded(Tables.documents(spark, dir), "title:spark AND line",
      Index.gateFields)
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "field_search" -> fieldSearch,
    "query_field" -> queryField,
    "query_search" -> querySearch,
    "wildcard_search" -> wildcardSearch,
    "query_near" -> queryNear,
    "query_slop" -> querySlop,
    "query_fuzzy" -> queryFuzzy,
    "query_ranked" -> queryRanked,
    "query_boost" -> queryBoost,
    "phrase3_search" -> phrase3Search)

  val oracles: Map[String, String] = Map(
    "field_search" ->
      s"""${Index.TokSql}
         |SELECT DISTINCT t.doc_id AS doc_id FROM tok t
         |WHERE t.term = 'spark' AND t.pos < ${Index.TitleTokens}
         |  AND t.doc_id IN (SELECT doc_id FROM tok WHERE term = 'line')
         |ORDER BY doc_id""".stripMargin,
    "query_fuzzy" ->
      s"""${Index.TokSql}, fz AS (
         |  SELECT DISTINCT term FROM tok WHERE levenshtein(term, 'spark') <= 2
         |)
         |SELECT DISTINCT t.doc_id AS doc_id
         |FROM tok t JOIN fz ON t.term = fz.term
         |WHERE t.doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'slow')
         |ORDER BY doc_id""".stripMargin,
    "query_field" ->
      s"""${Index.TokSql}
         |SELECT DISTINCT d.doc_id AS doc_id
         |FROM documents d
         |WHERE d.lang = 'en' AND d.source <> 'src0'
         |  AND d.doc_id IN (SELECT doc_id FROM tok WHERE term IN ('spark', 'query'))
         |ORDER BY doc_id""".stripMargin,
    "query_ranked" ->
      s"""${Index.TokSql}, n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
         |avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
         |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term),
         |m AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'
         |    AND doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'slow')
         |),
         |tf AS (
         |  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
         |  WHERE term = 'spark' AND doc_id IN (SELECT doc_id FROM m)
         |  GROUP BY doc_id, term
         |)
         |SELECT tf.doc_id AS doc_id,
         |  round(sum(ln((n.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl.avgdl))), 4) AS score
         |FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, n, avgdl
         |GROUP BY tf.doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "query_boost" ->
      s"""${Index.TokSql}, n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
         |avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
         |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term),
         |m AS (
         |  SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'
         |    AND doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'slow')
         |),
         |tf AS (
         |  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
         |  WHERE term = 'spark' AND doc_id IN (SELECT doc_id FROM m)
         |  GROUP BY doc_id, term
         |)
         |SELECT tf.doc_id AS doc_id,
         |  round(sum(3.0 * ln((n.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl.avgdl))), 4) AS score
         |FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, n, avgdl
         |GROUP BY tf.doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "query_slop" ->
      s"""${Index.TokSql}
         |SELECT DISTINCT a.doc_id AS doc_id
         |FROM tok a JOIN tok b ON a.doc_id = b.doc_id
         |  AND b.pos - a.pos BETWEEN 1 AND 3
         |WHERE a.term = 'key' AND b.term = 'order'
         |  AND a.doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'slow')
         |ORDER BY doc_id""".stripMargin,
    "query_near" ->
      s"""${Index.TokSql}
         |SELECT DISTINCT a.doc_id AS doc_id
         |FROM tok a JOIN tok b ON a.doc_id = b.doc_id
         |  AND abs(b.pos - a.pos) <= 4 AND b.pos <> a.pos
         |WHERE a.term = 'spark' AND b.term = 'join'
         |  AND a.doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'slow')
         |ORDER BY doc_id""".stripMargin,
    "phrase3_search" ->
      s"""${Index.TokSql}
         |SELECT DISTINCT a.doc_id AS doc_id
         |FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
         |WHERE a.term = 'small' AND b.term = 'query' AND c.term = 'line'
         |ORDER BY doc_id""".stripMargin,
    "wildcard_search" ->
      s"""${Index.TokSql}
         |SELECT DISTINCT doc_id FROM tok
         |WHERE term LIKE 'quer%'
         |  AND doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'slow')
         |ORDER BY doc_id""".stripMargin,
    "query_search" ->
      s"""${Index.TokSql}
         |SELECT DISTINCT doc_id FROM (
         |  SELECT a.doc_id AS doc_id
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.term = 'key' AND b.term = 'order'
         |  UNION
         |  SELECT doc_id FROM tok WHERE term = 'spark'
         |  AND doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'slow')
         |)
         |ORDER BY doc_id""".stripMargin)
}
