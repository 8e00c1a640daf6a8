package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Each AST node compiles to a DataFrame of matching doc ids:
  * terms/phrases filter the (already term-filtered) token stream, AND
  * is a left-semi join, OR a union-distinct, NOT an anti-join against
  * the document universe. The plan is fully declarative — Catalyst
  * sees one tree, pushes every term equality into the scan, and AQE
  * broadcasts the small sides; nothing is evaluated per-document on
  * the driver. At 100 TB each leaf touches only its term's postings
  * (one scan-pruned filter), never the corpus.
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

  /** Compile an AST to the frame of matching ids. `tok` is a
    * positional token stream (id, term, pos); `universe` is the
    * distinct id frame NOT ranges over.
    */
  def eval(tok: DataFrame, universe: DataFrame, q: Q, id: String = "doc_id",
           meta: DataFrame = null): DataFrame = {
    // a FIELDED token source (r15 — `field`-tagged rows from
    // [[searchFielded]] or a fielded index) scopes every plain text
    // leaf to the default `body` field; TField leaves pick their own.
    // An unfielded source passes through unchanged — plain search
    // plans are untouched.
    val btok =
      if (tok.columns.contains("field")) tok.filter(col("field") === "body")
      else tok
    q match {
    case Field(f, v) =>
      // metadata leaves filter the doc frame, not the token stream —
      // an equality Catalyst pushes into the metadata scan. The corpus
      // path passes the doc frame itself; the saved-index path passes
      // the `_meta` side table ([[graft.sources.IndexStore.loadMeta]]).
      // Absent metadata fails loudly.
      require(meta != null,
        s"field query '$f:$v' needs a metadata frame (for a saved " +
          "index: IndexStore.saveMeta beside the build)")
      meta.filter(col(f) === v).select(col(id)).distinct()
    case TField(f, t) =>
      require(tok.columns.contains("field"),
        s"text-field query '$f:$t' needs a fielded token source — " +
          "searchFielded on a corpus, or an index built with " +
          "Index.fieldedInvertedIndexOf")
      tok.filter(col("field") === f && col("term") === t)
        .select(col(id)).distinct()
    case Term(t) =>
      btok.filter(col("term") === t).select(col(id)).distinct()
    case Boost(t, _) => // boost weighs ranking only; matching is the term
      eval(tok, universe, Term(t), id, meta)
    case Prefix(p) =>
      // StartsWith pushes into the scan like the equality; over a
      // term-sorted IndexStore bucket it min/max-prunes row groups too
      btok.filter(col("term").startsWith(p)).select(col(id)).distinct()
    case Fuzzy(t, d) =>
      // expand against the AGGREGATED vocabulary (distinct terms, not
      // the token stream), then one broadcast semi-join back — the
      // [[Index.fuzzyTermOf]] probe as a grammar leaf
      val vt = btok.select("term").distinct()
        .filter(levenshtein(col("term"), lit(t)) <= d)
      btok.join(broadcast(vt), "term").select(col(id)).distinct()
    case Phrase(ts) =>
      // positional adjacency chain anchored on the first word: one
      // filtered frame per word, joined on (id, pos offset)
      val anchor = btok.filter(col("term") === ts.head)
        .select(col(id), col("pos"))
      ts.zipWithIndex.tail.foldLeft(anchor) { case (acc, (w, i)) =>
        val nxt = btok.filter(col("term") === w)
          .select(col(id).as("__id"), col("pos").as("__p"))
        acc.join(nxt, acc(id) === col("__id") && col("__p") === acc("pos") + i)
          .select(acc(id), acc("pos"))
      }.select(col(id)).distinct()
    case PhraseSlop(ts, k) =>
      // ordered chain like Phrase, but each step tracks the PREVIOUS
      // word's position and admits gaps of 1..k+1 (k = 0 ≡ Phrase)
      val anchor = btok.filter(col("term") === ts.head)
        .select(col(id), col("pos").as("__last"))
      ts.tail.foldLeft(anchor) { (acc, w) =>
        val nxt = btok.filter(col("term") === w)
          .select(col(id).as("__id"), col("pos").as("__p"))
        acc.join(nxt, acc(id) === col("__id") &&
            col("__p") > col("__last") && col("__p") <= col("__last") + (k + 1))
          .select(acc(id), col("__p").as("__last"))
      }.select(col(id)).distinct()
    case Near(a, b, k) =>
      // positional co-occurrence within ±k (unordered) — the grammar
      // surface of proximitySearch; both leaves are term-pruned scans
      val pa = btok.filter(col("term") === a).select(col(id), col("pos"))
      val pb = btok.filter(col("term") === b)
        .select(col(id).as("__nid"), col("pos").as("__np"))
      pa.join(pb, pa(id) === col("__nid") &&
          abs(col("__np") - col("pos")) <= k && col("__np") =!= col("pos"))
        .select(pa(id)).distinct()
    case And(l, r) =>
      eval(tok, universe, l, id, meta)
        .join(eval(tok, universe, r, id, meta), Seq(id), "left_semi")
    case Or(l, r) =>
      eval(tok, universe, l, id, meta)
        .unionByName(eval(tok, universe, r, id, meta)).distinct()
    case Not(inner) =>
      universe.join(eval(tok, universe, inner, id, meta), Seq(id), "left_anti")
    }
  }

  /** Parse + run a query string against a document corpus. */
  def search(docs: DataFrame, query: String, id: String = "doc_id",
             text: String = "text"): DataFrame = {
    val tok = Index.tokenStreamOf(docs, id, text)
    eval(tok, docs.select(col(id)).distinct(), parse(query), id, meta = docs)
  }

  /** [[search]] over MULTIPLE text fields (r15): `fields` names each
    * field's text column ([[Index.fieldedTokenStreamOf]]); plain
    * leaves match the mandatory `body` field, `title:term` leaves
    * their own. Metadata (`lang:`) and boolean composition are
    * unchanged — fielded and metadata leaves compose through the same
    * semi-join AND.
    */
  def searchFielded(docs: DataFrame, query: String,
                    fields: Map[String, org.apache.spark.sql.Column],
                    id: String = "doc_id"): DataFrame = {
    require(fields.contains("body"),
      "fielded search needs a 'body' field — the grammar's default scope")
    val tok = Index.fieldedTokenStreamOf(docs, fields, id)
    eval(tok, docs.select(col(id)).distinct(), parse(query), id, meta = docs)
  }

  /** The exact-term, prefix, and fuzzy leaves of an AST — what a
    * saved-index evaluation must fetch.
    */
  private def leaves(q: Q): (Seq[String], Seq[String], Seq[(String, Int)]) = q match {
    case Term(t) => (Seq(t), Nil, Nil)
    case Boost(t, _) => (Seq(t), Nil, Nil)
    case Field(_, _) => (Nil, Nil, Nil)
    // a fielded term fetches the SAME bucket-pruned postings as the
    // plain term; eval scopes them to the field afterwards
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
    * for. Exact-term leaves arrive via ONE bucket-pruned multi-term
    * scan ([[graft.sources.IndexStore.lookupTerms]]); prefix leaves
    * scan with a pushed StartsWith (term-sorted row groups prune
    * inside each bucket); positions explode back to the (doc, term,
    * pos) stream [[eval]] compiles against, so phrase adjacency and
    * boolean composition are the SAME plan as the corpus path — only
    * the leaf source changes, and it reads ≤ |query terms| / nBuckets
    * of the index.
    *
    * NOT ranges over the INDEXED documents (the index has no row for
    * a zero-token document — same universe the reference's artifact
    * defines).
    */
  def searchIndex(spark: SparkSession, indexPath: String, query: String,
                  nBuckets: Int = graft.sources.IndexStore.DefaultBuckets,
                  id: String = "doc_id"): DataFrame = {
    val ast = parse(query)
    val fetched = leafPostings(spark, indexPath, ast, nBuckets, query)
    val tok = fetched.select(tokCols(fetched, id): _*)
    val universe = graft.sources.IndexStore.load(spark, indexPath)
      .select(id).distinct()
    eval(tok, universe, ast, id, metaOf(spark, indexPath, ast))
  }

  /** The exploded-positions projection of a leaf fetch — carries the
    * `field` tag when the index is fielded
    * ([[Index.fieldedInvertedIndexOf]]), so [[eval]] can scope plain
    * leaves to `body` and `title:` leaves to theirs.
    */
  private def tokCols(fetched: DataFrame,
                      id: String): Seq[org.apache.spark.sql.Column] =
    (Seq(col(id), col("term")) ++
      (if (fetched.columns.contains("field")) Seq(col("field")) else Nil)) :+
      explode(col("positions")).as("pos")

  /** [[searchIndex]] against a pinned serving snapshot
    * ([[graft.sources.IndexStore.open]]) — identical results and
    * pruning, but the index listing, its dead-key set and `_meta` are
    * resolved ONCE per handle instead of per query (the measured
    * per-query planning floor of the serving mix; see
    * [[graft.sources.IndexStore.OpenIndex]]). Snapshot semantics are
    * the handle's: takedowns/segments landed after `open` need a
    * re-open.
    */
  def searchIndexOn(oi: graft.sources.IndexStore.OpenIndex,
                    query: String): DataFrame = {
    val id = oi.universe.columns.head
    val ast = parse(query)
    val fetched = leafPostingsOn(oi, ast, query)
    eval(fetched.select(tokCols(fetched, id): _*), oi.universe, ast, id,
      oi.meta.orNull)
  }

  /** Whether the AST carries a [[Field]] leaf anywhere — the gate
    * that keeps field-less queries from paying the `_meta` listing
    * (a per-query driver-side cost measured on the serving mix).
    */
  private def hasFieldLeaf(q: Q): Boolean = q match {
    case Field(_, _) => true
    case And(l, r) => hasFieldLeaf(l) || hasFieldLeaf(r)
    case Or(l, r) => hasFieldLeaf(l) || hasFieldLeaf(r)
    case Not(inner) => hasFieldLeaf(inner)
    case _ => false
  }

  /** The index's `_meta` side table when the QUERY needs one (fielded
    * `lang:`/`source:` leaves evaluate against it, doc-keyed and
    * tombstone-filtered), else null — [[eval]] then fails loudly only
    * if the query actually HAS a field leaf. Field-less queries skip
    * even the existence check's read.
    */
  private def metaOf(spark: SparkSession, indexPath: String, ast: Q): DataFrame =
    if (hasFieldLeaf(ast) && graft.sources.IndexStore.hasMeta(spark, indexPath))
      graft.sources.IndexStore.loadMeta(spark, indexPath)
    else null

  /** The posting rows a query's leaves need, fetched from the saved
    * index: exact-term leaves via ONE bucket-pruned multi-term scan,
    * prefix leaves via a pushed StartsWith, fuzzy leaves via a
    * dictionary distance scan. Returns (id, term, tf, positions) rows —
    * the shared leaf source of [[searchIndex]] (which explodes
    * positions back to a token stream) and [[searchRankedIndex]]
    * (which also reads tf and per-term row counts off the SAME fetch).
    */
  private def leafPostings(spark: SparkSession, indexPath: String, ast: Q,
                           nBuckets: Int, query: String): DataFrame = {
    val (ts, ps, fz) = leaves(ast)
    val byTerm =
      if (ts.nonEmpty)
        Seq(graft.sources.IndexStore.lookupTerms(spark, indexPath, ts.distinct, nBuckets))
      else Nil
    val byPrefix = ps.distinct.map(p =>
      graft.sources.IndexStore.load(spark, indexPath)
        .filter(col("term").startsWith(p)).drop("term_bucket"))
    // fuzzy leaves can't bucket-prune directly (an edit can land in
    // any bucket). With the `_fuzzy` SymSpell side table the leaf
    // resolves to its candidate TERM SET first (variant-IN probe +
    // exact verify, a bounded driver collect like the hybrid path's
    // term list) and fetches those terms' postings bucket-pruned;
    // without it, the declared fallback is the full-dictionary
    // levenshtein scan
    val fuzzyTable =
      if (fz.nonEmpty && graft.sources.IndexStore.hasFuzzy(spark, indexPath))
        Some(graft.sources.IndexStore.loadFuzzy(spark, indexPath))
      else None
    val byFuzzy = fz.distinct.map { case (t, d) =>
      fuzzyTable match {
        case Some(fzt) if d <= graft.sources.IndexStore.FuzzyMaxEdits =>
          val cands = graft.sources.IndexStore.fuzzyTermsVia(fzt, t, d)
            .collect().map(_.getString(0)).toSeq
          if (cands.isEmpty)
            graft.sources.IndexStore.load(spark, indexPath)
              .limit(0).drop("term_bucket")
          else graft.sources.IndexStore.lookupTerms(spark, indexPath,
            cands, nBuckets)
        case _ =>
          graft.sources.IndexStore.load(spark, indexPath)
            .filter(levenshtein(col("term"), lit(t)) <= d).drop("term_bucket")
      }
    }
    // a PURE-field query (`lang:en`) has no postings to fetch — its
    // evaluation runs entirely against `_meta`; hand eval an empty
    // token stream instead of refusing the query (r15)
    if (byTerm.isEmpty && byPrefix.isEmpty && byFuzzy.isEmpty && hasFieldLeaf(ast))
      return graft.sources.IndexStore.load(spark, indexPath)
        .limit(0).drop("term_bucket")
    require(byTerm.nonEmpty || byPrefix.nonEmpty || byFuzzy.nonEmpty,
      s"query has no leaves: $query")
    (byTerm ++ byPrefix ++ byFuzzy).reduce(_ unionByName _)
  }

  /** The UNCHECKPOINTED leaf-fetch plan of a ranked/boolean query —
    * the subtree [[rankedIndexFramesOn]] materializes per query. The
    * plan audit pins bucket pruning HERE (`searchranked_fetch`),
    * because the executed final plan reads the checkpoint and carries
    * no index scan to inspect.
    */
  private[graft] def rankedFetchPlan(spark: SparkSession, indexPath: String,
                                     query: String, nBuckets: Int): DataFrame =
    leafPostingsOn(graft.sources.IndexStore.openOnce(spark, indexPath, nBuckets,
      withMeta = true), parse(query), query)

  /** [[leafPostings]] against a pinned snapshot: same three leaf
    * sources, planned over the handle's already-resolved relation.
    */
  private def leafPostingsOn(oi: graft.sources.IndexStore.OpenIndex, ast: Q,
                             query: String): DataFrame = {
    val (ts, ps, fz) = leaves(ast)
    val byTerm =
      if (ts.nonEmpty) Seq(graft.sources.IndexStore.lookupTermsOn(oi, ts.distinct))
      else Nil
    val byPrefix = ps.distinct.map(p =>
      oi.idx.filter(col("term").startsWith(p)).drop("term_bucket"))
    val byFuzzy = fz.distinct.map { case (t, d) =>
      oi.fuzzy match {
        // the handle's pinned `_fuzzy` table: candidate terms by
        // variant probe, then a bucket-pruned postings fetch
        case Some(fzt) if d <= graft.sources.IndexStore.FuzzyMaxEdits =>
          val cands = graft.sources.IndexStore.fuzzyTermsVia(fzt, t, d)
            .collect().map(_.getString(0)).toSeq
          if (cands.isEmpty) oi.idx.limit(0).drop("term_bucket")
          else graft.sources.IndexStore.lookupTermsOn(oi, cands)
        case _ =>
          oi.idx.filter(levenshtein(col("term"), lit(t)) <= d).drop("term_bucket")
      }
    }
    // pure-field query: empty token stream, evaluation rides `_meta`
    if (byTerm.isEmpty && byPrefix.isEmpty && byFuzzy.isEmpty && hasFieldLeaf(ast))
      return oi.idx.limit(0).drop("term_bucket")
    require(byTerm.nonEmpty || byPrefix.nonEmpty || byFuzzy.nonEmpty,
      s"query has no leaves: $query")
    (byTerm ++ byPrefix ++ byFuzzy).reduce(_ unionByName _)
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
    val matches = eval(tok, docs.select(col(id)).distinct(), ast, id, meta = docs)
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
    * you'd never run at 100 TB). Everything per-query rides the ONE
    * bucket-pruned leaf fetch [[searchIndex]] already does:
    *
    *   - matching: same [[eval]] plan over the exploded positions;
    *   - tf: the stored per-posting `tf` column of the fetched rows;
    *   - df: a per-term row count over the SAME fetch — a bucket-pruned
    *     term fetch returns the term's COMPLETE posting list, so df
    *     needs no side table and is exact even between stats refreshes
    *     (tombstones/segment versions resolve in the fetch);
    *   - dl / n / avgdl: the persisted doc-count-sized
    *     [[graft.sources.IndexStore.saveStats]] side table (dl involves
    *     terms not in the query — the one statistic a leaf fetch cannot
    *     supply). Between refreshes they are snapshot values (scores
    *     drift like any serving engine between index refreshes; a
    *     deleted doc still vanishes, because matching/tf are live).
    *
    * Per query the read is ≤ |query terms|/nBuckets of the index plus
    * one column-pruned pass of the doc-count-sized dl table; no corpus
    * scan anywhere. Score semantics (BM25 k1=1.2 b=0.75, boosts, ties,
    * rounding) are [[searchRanked]]'s exactly — parity-specced row for
    * row on the gate corpora. `n` counts INDEXED docs (a zero-token doc
    * never enters the index; corpora with empty docs shift the corpus
    * path's n but not the result set, since ranked output requires a
    * positive-term match).
    *
    * SCORING IS BOUND-PRUNED (r14, MaxScore — Turtle & Flood; the
    * [[Index.wandTopkOf]] algebra moved onto the serving path): r13
    * fully scored EVERY matching doc, so one fat-df query term dragged
    * its whole posting list through the dl join + aggregation + sort
    * (measured: 383,900 scored rows for `the` on the 500k store). Now
    * each term carries a score upper bound
    * `UB(t) = boost·idf(t)·(k1+1)·maxtf/(maxtf + k1(1−b))` — maxtf
    * rides the SAME full-list leaf fetch df already rides, so no new
    * side table — and the ladder is wandFrames': exactly score the k
    * matching docs with the highest Σ UB (a bounded TakeOrdered seed),
    * take θ = their minimum exact score, then fully score only docs
    * with Σ UB ≥ θ. Any skipped doc has rounded score ≤ rounded bound
    * < θ, so the top-k is EXACTLY the unpruned ranking (the parity
    * specs assert row equality, and [[searchRankedIndexStats]] is the
    * scored-vs-candidates diagnostic). On a fat+rare query the fat
    * term's near-zero idf puts its only-fat docs under θ, so the
    * posting-list tail never reaches the dl join.
    *
    * The ladder engages ADAPTIVELY (jobless gate: |positive terms| ·
    * indexed-docs vs `spark.graft.maxscoreRows`, default 10M): below
    * the crossover the single-pass scoring wins on stage latency and
    * the plan is r13's exactly — measured on the 500k fat-df store,
    * the always-on ladder REGRESSED ranked p50 1.38s → 3.3s because
    * its extra stages cost more than the sub-second tail they prune;
    * the crossover where candidate mass dominates is the 10⁷⁺-row
    * posting lists of a truly large store. On the ladder branch the
    * leaf fetch materializes once per query (localCheckpoint) and the
    * final plan carries no index scan (`searchranked_fetch` audits
    * the pruning on the fetch subtree).
    */
  def searchRankedIndex(spark: SparkSession, indexPath: String, query: String,
                        k: Int = 20,
                        nBuckets: Int = graft.sources.IndexStore.DefaultBuckets,
                        id: String = "doc_id"): DataFrame = {
    val (_, _, _, scoredCand) =
      rankedIndexFrames(spark, indexPath, query, k, nBuckets, id)
    scoredCand
      .orderBy(col("score").desc, col(id))
      .limit(k)
  }

  /** The scored-vs-candidates pruning diagnostic of the index-served
    * ranked path — [[Index.wandPruneStats]]' contract on the serving
    * side: matching candidate docs, docs surviving the bound ≥ θ
    * filter (the only ones the dl join and aggregation ever see), and
    * θ itself. Run it beside a fat-df workload before trusting the
    * serving numbers at 100 TB.
    */
  def searchRankedIndexStats(spark: SparkSession, indexPath: String,
                             query: String, k: Int = 20,
                             nBuckets: Int = graft.sources.IndexStore.DefaultBuckets,
                             id: String = "doc_id"): DataFrame = {
    val (docUb, theta, cand, _) =
      rankedIndexFrames(spark, indexPath, query, k, nBuckets, id)
    docUb.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_scored"))))
      .crossJoin(broadcast(theta))
  }

  /** [[searchRankedIndex]] against a pinned serving snapshot — the
    * MaxScore ladder planned over [[graft.sources.IndexStore.open]]'s
    * resolved frames (see [[searchIndexOn]] for the snapshot
    * contract).
    */
  def searchRankedIndexOn(oi: graft.sources.IndexStore.OpenIndex,
                          query: String, k: Int = 20): DataFrame = {
    val id = oi.universe.columns.head
    val (_, _, _, scoredCand) = rankedIndexFramesOn(oi, query, k)
    scoredCand
      .orderBy(col("score").desc, col(id))
      .limit(k)
  }

  /** The shared MaxScore ladder of [[searchRankedIndex]] /
    * [[searchRankedIndexStats]]: (docUb, theta, cand, scoredCand).
    * The per-query form plans over a one-query handle
    * ([[graft.sources.IndexStore.openOnce]]: read-latest, versions and
    * takedowns resolved inline, nothing materialized); serving
    * sessions hold one [[graft.sources.IndexStore.OpenIndex]] and go
    * through [[rankedIndexFramesOn]].
    */
  private def rankedIndexFrames(spark: SparkSession, indexPath: String,
                                query: String, k: Int, nBuckets: Int,
                                id: String): (DataFrame, DataFrame, DataFrame, DataFrame) =
    rankedIndexFramesOn(
      graft.sources.IndexStore.openOnce(spark, indexPath, nBuckets,
        withMeta = hasFieldLeaf(parse(query))), query, k)

  private def rankedIndexFramesOn(oi: graft.sources.IndexStore.OpenIndex,
                                  query: String, k: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val id = oi.universe.columns.head
    val (k1, b) = (1.2, 0.75)
    val ast = parse(query)
    val terms = positiveTerms(ast)
    val boosts = boostWeights(ast)
    require(terms.nonEmpty, s"query has no positive terms to rank by: $query")
    require(oi.stats.nonEmpty,
      s"index at ${oi.path} has no _stats side table — run " +
        "IndexStore.saveStats(spark, path) after building the index " +
        "(compaction refreshes it automatically)")
    // LADDER GATE (measured, r14): the ladder's extra stages (fetch
    // checkpoint, bound pass, seed scoring, θ broadcast) carry ~1.5s+
    // of fixed stage latency on a local session, while the single-pass
    // tail they prune (dl join + aggregation + TakeOrdered over the
    // matched posting rows) stays sub-second until posting lists reach
    // tens of millions of rows — the always-on ladder REGRESSED the
    // 500k-store ranked p50 1.38s → 3.3s. The gate is jobless: the
    // upper bound |positive terms| · indexed-docs (n off the handle's
    // already-collected stats row) against `spark.graft.maxscoreRows`
    // (default 10M). Below it the plan is the r13 single pass over the
    // bucket-pruned layout, exactly; at or above it the fetch
    // materializes ONCE (localCheckpoint) and the bound-prune-rescore
    // ladder runs over the pinned rows (pruning audited on the fetch
    // subtree — `searchranked_fetch`; the ladder's final plan carries
    // no index scan). Both branches rank identically (parity specs
    // force the gate both ways); [[searchRankedIndexStats]] always
    // prices the ladder's scored-vs-candidates split.
    val ladder = terms.size.toLong * math.max(oi.nDocs, 0L) >= oi.spark.conf
      .get("spark.graft.maxscoreRows", "10000000").toLong
    val postings0 = leafPostingsOn(oi, ast, query)
    val postings = if (ladder) postings0.localCheckpoint() else postings0
    val tok = postings.select(tokCols(postings, id): _*)
    // the universe frame only enters the plan under a NOT node — a
    // NOT-less ranked query never scans beyond its terms' buckets
    val matches = eval(tok, oi.universe, ast, id, oi.meta.orNull)
    val (dl, corpus) = oi.stats.get
    // over a FIELDED index, ranking scores the BODY field's tf only
    // (title rows would double-count the title tokens; per-field
    // weighting — BM25F — is a different model)
    val ranked0 = postings.filter(col("term").isin(terms: _*))
    val ranked = (if (postings.columns.contains("field"))
        ranked0.filter(col("field") === "body") else ranked0)
      .select(col(id), col("term"), col("tf").cast("double").as("tf"))
    // df AND the bound's maxtf ride the same complete-list fetch —
    // both exact even between stats refreshes
    val tstats = ranked.groupBy("term").agg(
      count(lit(1)).cast("double").as("df"), max(col("tf")).as("maxtf"))
    val boostCol = boosts.foldLeft(lit(1.0)) { case (acc, (t, bw)) =>
      when(col("term") === t, lit(bw)).otherwise(acc)
    }
    // idf CLAMPED at 0 (r15): with FRESH stats idf is provably
    // positive (df ≤ n ⇒ the log argument > 1), so the clamp is an
    // identity and oracle/corpus parity is untouched — but a STALE n
    // snapshot can sit below a live df (docs landed after the stats
    // refresh), turning idf negative, and a negative term weight
    // INVERTS the MaxScore bound (ub < score ⇒ cand can prune
    // everything ⇒ empty results). Clamped, an over-common term
    // contributes 0 until the refresh — drift semantics, and the
    // bound stays a bound.
    val idfCol = greatest(
      log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), lit(0.0))
    val ub = tstats.crossJoin(broadcast(corpus))
      .select(col("term"), col("df"),
        (boostCol * idfCol * (col("maxtf") * (k1 + 1.0)) /
          (col("maxtf") + lit(k1) * lit(1.0 - b))).as("ubt"))
    val rankedM = ranked.join(matches, Seq(id), "left_semi")
    val docUb = rankedM.join(broadcast(ub.select("term", "ubt")), "term")
      .groupBy(id).agg(round(sum(col("ubt")), 4).as("ub"))
    // dl joins LEFT with an avgdl fallback (r15 — the stats-staleness
    // doc DROP): the dl table is a snapshot, so a doc whose segment
    // landed after the last stats refresh matches term/bool/phrase
    // serving yet had NO dl row — the old inner join silently dropped
    // it from ranked results, which is stronger than the documented
    // score-drift contract. Now it scores with dl = avgdl (drift,
    // exactly like the contract's n/avgdl drift) until the refresh;
    // [[graft.sources.IndexStore.saveSegment]]'s incremental stats
    // fold makes the fallback a crash-window-only path, and
    // [[graft.sources.IndexStore.statsFresh]] is the loud signal.
    def scored(sel: DataFrame): DataFrame =
      rankedM.join(sel, Seq(id), "left_semi")
        .join(broadcast(tstats.select("term", "df")), "term")
        .join(dl, Seq(id), "left")
        .crossJoin(broadcast(corpus))
        .withColumn("w", boostCol * idfCol *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * coalesce(col("dl"), col("avgdl")) / col("avgdl"))))
        .groupBy(id).agg(round(sum(col("w")), 4).as("score"))
    val seed = docUb.orderBy(col("ub").desc, col(id)).limit(k).select(id)
    val theta = scored(seed).agg(min(col("score")).as("theta"))
    val cand = docUb.crossJoin(broadcast(theta))
      .filter(col("ub") >= col("theta")).select(id)
    (docUb, theta, cand, if (ladder) scored(cand) else scored(matches))
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
    * positional adjacency chain in [[eval]]'s Phrase plan (one
    * doc+offset-keyed join per extra word; 2-term `phrase_search` is
    * the shortest instance).
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
    * grammar ([[Field]] — `lang:`/`source:` leaves filter the doc
    * frame, composing with term leaves through the same semi-join
    * AND), the fielded-search surface every search engine exposes.
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
