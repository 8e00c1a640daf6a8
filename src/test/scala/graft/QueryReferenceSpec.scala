package graft

import java.nio.file.Files

import graft.operators.{Index, Query}
import graft.operators.Query._
import graft.sources.IndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Every query entry point against an independent, driver-side
  * brute-force evaluator over collected rows. The corpus and index
  * paths share one compiler, so a parity spec between them cannot see
  * a bug the compiler has on both sides; this one reads the grammar's
  * semantics straight off the whitespace tokens (as `TextFns.tokens`
  * splits them) with no Spark in the loop.
  */
class QueryReferenceSpec extends SparkSpec {

  /** One document as the reference sees it: its tokens per text field
    * and its metadata.
    */
  final case class RefDoc(id: Long, fields: Map[String, Vector[String]],
                          meta: Map[String, String])

  private def toks(s: String): Vector[String] = s.split("\\s+").filter(_.nonEmpty).toVector

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
    d(a.length)(b.length)
  }

  /** Positions of `w` in `ws`. */
  private def at(ws: Vector[String], w: String): Seq[Int] = ws.indices.filter(ws(_) == w)

  /** Whether the words `ts` occur in order with every gap in [1, maxGap]. */
  private def ordered(ws: Vector[String], ts: Seq[String], maxGap: Int): Boolean = {
    def from(p: Int, rest: Seq[String]): Boolean = rest.isEmpty ||
      at(ws, rest.head).exists(q => q - p >= 1 && q - p <= maxGap && from(q, rest.tail))
    at(ws, ts.head).exists(p => from(p, ts.tail))
  }

  /** The grammar's meaning of `q` on one document; `inU` is whether the
    * document belongs to the universe NOT ranges over.
    */
  private def holds(q: Q, d: RefDoc, inU: Boolean): Boolean = {
    val body = d.fields.getOrElse("body", Vector.empty)
    q match {
      case Term(t) => body.contains(t)
      case Boost(t, _) => body.contains(t)
      case TField(f, t) => d.fields.getOrElse(f, Vector.empty).contains(t)
      case Prefix(p) => body.exists(_.startsWith(p))
      case Fuzzy(t, k) => body.exists(lev(_, t) <= k)
      case Phrase(ts) => ordered(body, ts, 1)
      case PhraseSlop(ts, k) => ordered(body, ts, k + 1)
      case Near(a, b, k) =>
        at(body, a).exists(i => at(body, b).exists(j => i != j && math.abs(i - j) <= k))
      case Field(f, v) => d.meta.get(f).contains(v)
      case And(l, r) => holds(l, d, inU) && holds(r, d, inU)
      case Or(l, r) => holds(l, d, inU) || holds(r, d, inU)
      case Not(inner) => inU && !holds(inner, d, inU)
    }
  }

  /** Reference match set: docs of `universe` ∪ `metaDocs` the query
    * holds on (a doc outside both can satisfy no leaf and no NOT).
    */
  private def reference(q: String, docs: Seq[RefDoc], universe: Set[Long],
                        metaDocs: Set[Long]): Set[Long] = {
    val ast = parse(q)
    docs.filter(d => universe(d.id) || metaDocs(d.id))
      .map(d => if (metaDocs(d.id)) d else d.copy(meta = Map.empty))
      .filter(d => holds(ast, d, universe(d.id))).map(_.id).toSet
  }

  /** Reference ranked match set: the matches holding a positive term. */
  private def rankedReference(q: String, docs: Seq[RefDoc], universe: Set[Long],
                              metaDocs: Set[Long]): Set[Long] = {
    val pos = positiveTerms(parse(q))
    val byId = docs.map(d => d.id -> d).toMap
    reference(q, docs, universe, metaDocs)
      .filter(id => pos.exists(byId(id).fields.getOrElse("body", Vector.empty).contains))
  }

  private def ids(df: DataFrame): Set[Long] = {
    val rows = df.select("doc_id").collect().map(_.getLong(0))
    assert(rows.length === rows.distinct.length, "evaluator returned a duplicate id")
    rows.toSet
  }

  // ---- the corpus ----------------------------------------------------

  private val rows: Seq[(Long, String, String, String, String)] = Seq(
    (0L, "spark makes key order fast spark", "en", "src0", "spark intro"),
    (1L, "key order matters in a sort", "en", "src1", "sorting"),
    (2L, "slow spark query with key order", "de", "src0", "slow notes"),
    (3L, "nothing relevant here", "de", "src1", "misc"),
    (4L, "querying keys out of order", "en", "src0", "query guide"),
    (5L, "key x order", "fr", "src1", "gap two"),
    (6L, "key x y order", "en", "src1", "gap three"),
    (7L, "key x y z order", "de", "src0", "gap four"),
    (8L, "spork sparks spank", "en", "src0", "fuzzy"),
    (9L, "the the cat the", "en", "src1", "cat key"),
    (10L, "", "en", "src1", "empty body"),
    (11L, "near near", "de", "src0", "twins"),
    (12L, "spark a b c join", "fr", "src0", "spark window"),
    (13L, "join spark", "en", "src1", "reverse"))

  private def refDocs(rs: Seq[(Long, String, String, String, String)]): Seq[RefDoc] =
    rs.map { case (id, text, lang, src, title) =>
      RefDoc(id, Map("body" -> toks(text), "title" -> toks(title)),
        Map("lang" -> lang, "source" -> src))
    }

  private def frame(rs: Seq[(Long, String, String, String, String)]): DataFrame = {
    import spark.implicits._
    rs.toDF("doc_id", "text", "lang", "source", "title")
  }

  /** Queries over body terms and metadata: one or more per AST node. */
  private val plain = Seq(
    "spark", "spark^3", "quer*", "spork~1", "spork~2", "sparx~1",
    "\"key order\"", "\"key x order\"", "\"the the\"", "\"the cat the\"",
    "\"key order\"~1", "\"key order\"~2",
    "spark NEAR/4 join", "spark NEAR/3 join", "near NEAR/1 near", "cat NEAR/2 cat",
    "lang:en", "lang:en AND spark", "source:src0 OR quer*", "NOT lang:de",
    "spark AND NOT slow", "(spark OR key) AND NOT (slow OR sort)",
    "key OR NOT spark", "NOT spark", "spark OR join", "\"key order\" OR (spark AND NOT slow)")

  /** Queries that need a fielded source (`title:` leaves). */
  private val fieldedOnly = Seq(
    "title:spark", "title:key AND cat", "title:gap OR \"the cat\"",
    "body:spark AND NOT title:spark")

  private val fields = Map("body" -> col("text"), "title" -> col("title"))

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Assert `run(q)` equals `want(q)`, and that the query set is not vacuous. */
  private def agree(what: String, qs: Seq[String])(run: String => Set[Long])
                   (want: String => Set[Long]): Unit = {
    qs.foreach(q => assert(run(q) === want(q), s"$what: '$q'"))
    assert(qs.count(q => want(q).nonEmpty) >= qs.size - 1, s"$what: vacuous queries")
  }

  test("reference evaluator: the corpus paths (search, searchFielded, searchRanked) match brute force") {
    val docs = frame(rows).cache()
    val ref = refDocs(rows)
    val all = rows.map(_._1).toSet
    // the corpus path's universe and metadata are the doc frame itself,
    // empty-text doc 10 included
    agree("search", plain)(q => ids(Query.search(docs, q)))(
      reference(_, ref, all, all))
    agree("searchFielded", plain ++ fieldedOnly)(q => ids(Query.searchFielded(docs, q, fields)))(
      reference(_, ref, all, all))
    val ranked = plain.filter(q => positiveTerms(parse(q)).nonEmpty)
    agree("searchRanked", ranked)(q => ids(Query.searchRanked(docs, q, k = 100)))(
      rankedReference(_, ref, all, all))
  }

  test("reference evaluator: the index paths (searchIndex, searchIndexOn, ranked) match brute force on a churned store") {
    val ref = refDocs(rows)
    val all = rows.map(_._1).toSet
    val tokened = rows.filter(r => toks(r._2).nonEmpty).map(_._1).toSet
    val docs = frame(rows)

    // a plain one-layout index: NOT ranges over the indexed (tokened)
    // docs, metadata leaves over `_meta`
    val plainPath = tmpDir("graft-ref") + "/index"
    IndexStore.save(Index.invertedIndexOf(docs), plainPath, nBuckets = 4)
    IndexStore.saveMeta(docs.select("doc_id", "lang", "source"), plainPath)
    agree("searchIndex", plain)(q => ids(Query.searchIndex(spark, plainPath, q, nBuckets = 4)))(
      reference(_, ref, tokened, all))

    // a fielded index: title: leaves read their own field's postings
    val fieldedPath = tmpDir("graft-ref") + "/fielded"
    IndexStore.save(Index.fieldedInvertedIndexOf(docs, fields), fieldedPath, nBuckets = 4)
    IndexStore.saveMeta(docs.select("doc_id", "lang", "source"), fieldedPath)
    agree("searchIndex (fielded)", plain ++ fieldedOnly)(
      q => ids(Query.searchIndex(spark, fieldedPath, q, nBuckets = 4)))(
      reference(_, ref, rows.filter(r => (toks(r._2) ++ toks(r._5)).nonEmpty).map(_._1).toSet,
        all))

    // a churned segmented store: doc 2 re-lands with new text, doc 4
    // is taken down, with the `_fuzzy` probe table in place
    val path = tmpDir("graft-ref") + "/churned"
    val relanded = Seq((2L, "fast spark join near key order queried", "de", "src0", "slow notes"))
    assert(IndexStore.saveSegment(Index.invertedIndexOf(docs), path, 0L, nBuckets = 4))
    assert(IndexStore.saveSegment(Index.invertedIndexOf(frame(relanded)), path, 1L, nBuckets = 4))
    import spark.implicits._
    assert(IndexStore.deleteBatch(Seq(4L).toDF("doc_id"), path, 0L))
    IndexStore.saveMeta(docs.select("doc_id", "lang", "source"), path)
    IndexStore.saveFuzzy(spark, path)
    val liveRows = rows.filterNot(r => r._1 == 4L || r._1 == 2L) ++ relanded
    val live = refDocs(liveRows)
    val liveTokened = liveRows.filter(r => toks(r._2).nonEmpty).map(_._1).toSet
    val liveMeta = all - 4L
    val oi = IndexStore.open(spark, path, nBuckets = 4)
    agree("searchIndexOn", plain)(q => ids(Query.searchIndexOn(oi, q)))(
      reference(_, live, liveTokened, liveMeta))
    agree("searchIndex (churned)", plain)(
      q => ids(Query.searchIndex(spark, path, q, nBuckets = 4)))(
      reference(_, live, liveTokened, liveMeta))

    // ranked match sets through the handle
    val ranked = plain.filter(q => positiveTerms(parse(q)).nonEmpty)
    agree("searchRankedIndexOn", ranked)(q => ids(Query.searchRankedIndexOn(oi, q, k = 100)))(
      rankedReference(_, live, liveTokened, liveMeta))
  }
}
