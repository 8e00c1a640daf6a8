package graft

import java.nio.file.Files

import graft.functions.HashImpl
import graft.operators.Index
import graft.sources.{IndexStore, Jsonl, Tsv}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Specs for the reference-format TSV source, the term-partitioned
  * index store, and the SQL function registry extensions.
  */
class SourcesSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("tsv source: title\\tbody lines, first-tab split, blank lines dropped") {
    val dir = tmpDir("graft-tsv")
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.tsv"),
      "Doc One\talpha beta alpha\n\nDoc Two\tbeta\tgamma\nNoBody\n")
    val docs = Tsv.readDocuments(spark, s"$dir/docs.tsv").orderBy("title").collect()
    assert(docs.map(r => (r.getString(0), r.getString(1))).toSeq === Seq(
      ("Doc One", "alpha beta alpha"),
      ("Doc Two", "beta\tgamma"),      // only the FIRST tab splits
      ("NoBody", "")))
  }

  test("graft-tsv DSV2 source: split boundaries honored, rows match the text reader") {
    val dir = tmpDir("graft-tsv-dsv2")
    // lines long enough that 64-byte splits land mid-line repeatedly
    val lines = (0 until 40).map(i =>
      s"Document Title Number $i\tbody token alpha beta gamma delta $i")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/docs.tsv"),
      lines.mkString("\n") + "\n\nNoTabLine\n") // incl. a blank + tab-less line
    val v2 = spark.read.format("graft-tsv")
      .option("maxSplitBytes", "64")
      .load(s"$dir/docs.tsv")
    assert(v2.rdd.getNumPartitions > 10) // the byte ranges really split
    val got = v2.orderBy("title").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val want = Tsv.readDocuments(spark, s"$dir/docs.tsv").orderBy("title")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === want)
    assert(got.size === 41 && got.contains(("NoTabLine", "")))
    // declared schema, no inference pass
    assert(v2.schema.fieldNames.toSeq === Seq("title", "text"))
  }

  test("graft-tsv DSV2 source: session Hadoop conf reaches the executor-side reader") {
    val dir = tmpDir("graft-tsv-conf")
    // One physical line; '|' only becomes a record boundary if the
    // reader honors textinputformat.record.delimiter from the
    // SESSION's Hadoop conf (a default new Configuration() would
    // parse this as a single record).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/docs.tsv"),
      "Doc A\talpha|Doc B\tbeta")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("textinputformat.record.delimiter", "|")
    try {
      val got = spark.read.format("graft-tsv").load(s"$dir/docs.tsv")
        .orderBy("title").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got === Seq(("Doc A", "alpha"), ("Doc B", "beta")))
    } finally hc.unset("textinputformat.record.delimiter")
  }

  test("graft-tsv DSV2 source: gzipped input reads whole-file (never byte-split)") {
    val dir = tmpDir("graft-tsv-gz")
    val lines = (0 until 200).map(i =>
      s"Gz Doc $i\tbody alpha beta gamma delta epsilon zeta $i")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(s"$dir/docs.tsv.gz")))
    gz.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    gz.close()
    // 64-byte maxSplitBytes would mis-split a gzip stream if the
    // planner byte-split it; the codec check must emit ONE partition.
    val v2 = spark.read.format("graft-tsv")
      .option("maxSplitBytes", "64")
      .load(s"$dir/docs.tsv.gz")
    assert(v2.rdd.getNumPartitions === 1)
    val got = v2.orderBy("title").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got.size === 200 &&
      got.contains(("Gz Doc 0", "body alpha beta gamma delta epsilon zeta 0")))
  }

  test("tsv -> positional inverted index keyed by title (reference semantics)") {
    val dir = tmpDir("graft-tsv-idx")
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.tsv"),
      "A\tx y x\nB\ty z\n")
    val idx = Index.invertedIndexOf(
        Tsv.readDocuments(spark, s"$dir/docs.tsv"), id = "title")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getSeq[Long](3))).toSeq
    assert(idx === Seq(
      ("x", "A", 2L, Seq(0L, 2L)),
      ("y", "A", 1L, Seq(1L)),
      ("y", "B", 1L, Seq(0L)),
      ("z", "B", 1L, Seq(1L))))
  }

  test("index store: save/load round-trips and lookup prunes to one bucket") {
    val path = tmpDir("graft-idxstore") + "/index"
    val idx = Index.invertedIndex(spark, sfDir)
    IndexStore.save(idx, path, nBuckets = 8)

    val loaded = IndexStore.load(spark, path)
    assert(loaded.count() === idx.count())

    val term = "spark"
    val got = IndexStore.lookup(spark, path, term, nBuckets = 8)
      .select("term", "doc_id", "tf").orderBy("doc_id").collect()
    val want = idx.filter(col("term") === term)
      .select("term", "doc_id", "tf").orderBy("doc_id").collect()
    assert(got.toSeq === want.toSeq)
    assert(got.nonEmpty)

    // the bucket equality must prune at planning time, not post-scan
    val plan = IndexStore.lookup(spark, path, term, nBuckets = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("term_bucket"))

    // the persisted save-time bucket count rejects ANY other value:
    // a LARGER count passes the directory-id bound but hashes terms
    // into buckets the layout never wrote (silent empty lookups)
    val tooMany = intercept[IllegalArgumentException] {
      IndexStore.lookup(spark, path, term, nBuckets = 16)
    }
    assert(tooMany.getMessage.contains("saved with nBuckets=8"))
    val tooFew = intercept[IllegalArgumentException] {
      IndexStore.lookup(spark, path, term, nBuckets = 4)
    }
    assert(tooFew.getMessage.contains("saved with nBuckets=8"))
  }

  test("index store: segmented root rejects a wrong bucket count even without the marker") {
    import spark.implicits._
    val path = tmpDir("graft-idxseg") + "/index"
    val docs = (0 until 40).map(i => (i.toLong, s"alpha w$i beta")).toDF("doc_id", "text")
    val idx = Index.invertedIndexOf(docs)
    IndexStore.saveSegment(idx, path, 0L, nBuckets = 4)
    val marker = new org.apache.hadoop.fs.Path(path, "_nbuckets")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the marker is written BEFORE the segment rename: a visible
    // segment implies the marker exists (no crash window between them)
    assert(fs.exists(marker))
    // pre-marker fallback: a segmented root has no term_bucket= dirs of
    // its own, so the listing bound must descend into seg= dirs — a
    // flat listing would vacuously accept ANY count and a wrong-count
    // lookup would silently return empty postings
    fs.delete(marker, false)
    // precondition: the 4-bucket layout really uses a bucket id >= 2
    assert(idx.select("term").distinct().collect()
      .exists(r => IndexStore.bucketOf(r.getString(0), 4) >= 2))
    val wrong = intercept[IllegalArgumentException] {
      IndexStore.lookup(spark, path, "alpha", nBuckets = 2)
    }
    assert(wrong.getMessage.contains("bucket ids up to"))
    // the save-time count still works marker-less
    assert(IndexStore.lookup(spark, path, "alpha", nBuckets = 4).count() === 40L)
  }

  test("index store: tombstone delete hides docs from every reader, compact folds in") {
    val base = tmpDir("graft-idxdel")
    val path = s"$base/index"
    val idx = Index.invertedIndex(spark, sfDir)
    IndexStore.save(idx, path, nBuckets = 8)
    val term = "spark"
    val before = IndexStore.lookup(spark, path, term, nBuckets = 8)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(before.length >= 2)
    // two delete batches append — both must apply
    IndexStore.delete(spark, path, Seq(before.head))
    IndexStore.delete(spark, path, Seq(before.last))
    val after = IndexStore.lookup(spark, path, term, nBuckets = 8)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(after.toSeq === before.toSeq.drop(1).dropRight(1))
    assert(IndexStore.load(spark, path)
      .filter(col("doc_id").isin(before.head, before.last)).count() === 0)
    // planning-time bucket pruning survives the tombstone anti-join
    val plan = IndexStore.lookup(spark, path, term, nBuckets = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("term_bucket"))
    // compaction drops the rows for real and clears the tombstone dir
    // no explicit bucket count: compact must INHERIT the saved 8, not
    // re-bucket to the 64 default
    val compacted = s"$base/compacted"
    IndexStore.compact(spark, path, compacted)
    val cGot = IndexStore.lookup(spark, compacted, term, nBuckets = 8)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(cGot.toSeq === after.toSeq)
    assert(!new java.io.File(s"$compacted/_tombstones").exists())
    assert(IndexStore.load(spark, compacted).count() ===
      IndexStore.load(spark, path).count())
  }

  test("index store: multi-term lookup prunes to the terms' buckets in one scan") {
    val path = tmpDir("graft-idxmulti") + "/index"
    val idx = Index.invertedIndex(spark, sfDir)
    IndexStore.save(idx, path, nBuckets = 8)
    val terms = Seq("spark", "join", "filter")
    val got = IndexStore.lookupTerms(spark, path, terms, nBuckets = 8)
      .select("term", "doc_id", "tf").orderBy("term", "doc_id").collect()
    val want = idx.filter(col("term").isin(terms: _*))
      .select("term", "doc_id", "tf").orderBy("term", "doc_id").collect()
    assert(got.toSeq === want.toSeq && got.nonEmpty)
    // planning-time partition pruning on the bucket IN-list
    val plan = IndexStore.lookupTerms(spark, path, terms, nBuckets = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("term_bucket"))
  }

  test("index store: positions stored delta-gap encoded, decoded on read") {
    val base = tmpDir("graft-idxgaps")
    val path = s"$base/index"
    val rawPath = s"$base/raw"
    val idx = Index.invertedIndex(spark, sfDir)
    IndexStore.save(idx, path, nBuckets = 8)

    // on disk: gaps, not positions (the codec actually applied)
    val disk = spark.read.parquet(path)
    assert(disk.columns.contains("gaps") && !disk.columns.contains("positions"))

    // load decodes: positions round-trip exactly
    val got = IndexStore.load(spark, path)
      .select("term", "doc_id", "positions")
      .orderBy("term", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    val want = idx.select("term", "doc_id", "positions")
      .orderBy("term", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    assert(got === want)

    // lookup still decodes through the pruned path
    val lk = IndexStore.lookup(spark, path, "spark", nBuckets = 8).collect()
    assert(lk.nonEmpty)

    // and the encoded store is smaller than the same frame written raw
    idx.withColumn("term_bucket",
        graft.functions.HashFns.rollingHash(col("term")) % 8)
      .repartition(col("term_bucket"))
      .sortWithinPartitions("term_bucket", "term")
      .write.partitionBy("term_bucket").parquet(rawPath)
    // posting files only: the `_docs` manifest beside them is not
    // part of the codec comparison
    def bytes(p: String): Long = {
      val d = new java.io.File(p)
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().filterNot(_.getName.startsWith("_")).map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(d)
    }
    assert(bytes(path) < bytes(rawPath),
      s"encoded ${bytes(path)} !< raw ${bytes(rawPath)}")
  }

  test("jsonl source: explicit schema, corrupt lines quarantined not fatal") {
    val dir = tmpDir("graft-jsonl")
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"doc_id": 0, "text": "alpha beta", "lang": "en", "source": "s0"}
        |{"doc_id": 1, "text": "gamma", "lang": "es", "source": "s1"}
        |not json at all
        |{"text": "no id", "lang": "en", "source": "s2"}
        |""".stripMargin)
    val docs = Jsonl.readDocuments(spark, s"$dir/docs.jsonl").orderBy("doc_id").collect()
    assert(docs.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((0L, "alpha beta"), (1L, "gamma")))
    // quarantine carries both the unparseable line and the id-less row
    val bad = Jsonl.readCorrupt(spark, s"$dir/docs.jsonl").collect().map(_.getString(0))
    assert(bad.length === 2)
    assert(bad.exists(_.contains("not json at all")))
    // a jsonl corpus indexes like any other document frame
    val idx = Index.invertedIndexOf(Jsonl.readDocuments(spark, s"$dir/docs.jsonl"))
    assert(idx.count() === 3) // alpha, beta, gamma
  }

  test("jsonl writer: round-trips through the explicit-schema reader, shard count honored") {
    val dir = tmpDir("graft-jsonl-rt")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    Jsonl.writeDocuments(docs, s"$dir/out", shards = 3)
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(files.length === 3, "shard count is an interface, not an accident")
    val back = Jsonl.readDocuments(spark, s"$dir/out")
    assert(back.count() === docs.count())
    // value-exact round trip (text with quotes/unicode survives JSON)
    val a = docs.select("doc_id", "text", "lang", "source").collect()
      .map(_.toString).sorted
    val b = back.select("doc_id", "text", "lang", "source").collect()
      .map(_.toString).sorted
    assert(a.sameElements(b))
    // and nothing lands in quarantine
    assert(Jsonl.readCorrupt(spark, s"$dir/out").count() === 0L)
  }

  test("csv source: explicit schema, quoted commas kept, corrupt rows quarantined") {
    val dir = tmpDir("graft-csv")
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.csv"),
      """doc_id,text,lang,source
        |0,"alpha, beta",en,s0
        |1,gamma,es,s1
        |not_a_long,broken row,en,s2
        |,"no id",en,s3
        |""".stripMargin)
    val docs = graft.sources.Csv.readDocuments(spark, s"$dir/docs.csv")
      .orderBy("doc_id").collect()
    assert(docs.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((0L, "alpha, beta"), (1L, "gamma")))
    val bad = graft.sources.Csv.readCorrupt(spark, s"$dir/docs.csv")
      .collect().map(_.getString(0))
    assert(bad.length === 2)
    assert(bad.exists(_.contains("not_a_long")))
    // a csv corpus indexes like any other document frame
    val idx = Index.invertedIndexOf(
      graft.sources.Csv.readDocuments(spark, s"$dir/docs.csv"))
    assert(idx.count() === 3) // alpha,, beta, gamma — tokens: "alpha," "beta" "gamma"
  }

  test("index merge: delta docs replace base postings at doc granularity") {
    import spark.implicits._
    val base = tmpDir("graft-merge") + "/base"
    val delta = tmpDir("graft-merge") + "/delta"
    val out = tmpDir("graft-merge") + "/merged"
    val docs1 = Seq((0L, "x y"), (1L, "y z")).toDF("doc_id", "text")
    val docs2 = Seq((1L, "y q")).toDF("doc_id", "text") // doc 1 re-crawled
    IndexStore.save(Index.invertedIndexOf(docs1), base, nBuckets = 4)
    IndexStore.save(Index.invertedIndexOf(docs2), delta, nBuckets = 4)
    IndexStore.merge(spark, base, delta, out, nBuckets = 4)

    val want = Index.invertedIndexOf(
        Seq((0L, "x y"), (1L, "y q")).toDF("doc_id", "text"))
      .select("term", "doc_id", "tf")
      .orderBy("term", "doc_id").collect().toSeq
    val got = IndexStore.load(spark, out)
      .select("term", "doc_id", "tf")
      .orderBy("term", "doc_id").collect().toSeq
    assert(got === want)
    // doc 1's old term "z" must be gone
    assert(IndexStore.lookup(spark, out, "z", nBuckets = 4).count() === 0)
  }

  test("query over saved index: boolean/phrase/prefix match the corpus path") {
    import spark.implicits._
    val path = tmpDir("graft-idxquery") + "/index"
    val docs = Seq(
      (0L, "spark makes key order fast"),
      (1L, "key order matters in a sort"),
      (2L, "slow spark query with key order"),
      (3L, "nothing relevant here"),
      (4L, "querying keys out of order")).toDF("doc_id", "text")
    IndexStore.save(Index.invertedIndexOf(docs), path, nBuckets = 4)
    val q = """("key order" AND NOT slow) OR quer*"""
    val fromIndex = operators.Query.searchIndex(spark, path, q, nBuckets = 4)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val fromCorpus = operators.Query.search(docs, q)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(fromIndex === fromCorpus)
    assert(fromIndex === Seq(0L, 1L, 2L, 4L)) // 2 via quer*, not the AND branch
    // NEAR/k through BOTH paths: spark..key are 2 apart in doc 0 and
    // 3 apart in doc 2 — the window cleanly splits them
    val nq = "spark NEAR/2 key"
    val nearIdx = operators.Query.searchIndex(spark, path, nq, nBuckets = 4)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val nearCorpus = operators.Query.search(docs, nq)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(nearIdx === nearCorpus)
    assert(nearIdx === Seq(0L))
    assert(operators.Query.search(docs, "spark NEAR/3 key")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq === Seq(0L, 2L))
    // fuzzy leaf through BOTH paths: spork~1 reaches spark (and only
    // it) via the index-side dictionary probe — the r14 serving-mix
    // shape — and composes with a boolean branch
    Seq("spork~1", "spork~1 AND NOT slow").foreach { fq =>
      val fuzzyIdx = operators.Query.searchIndex(spark, path, fq, nBuckets = 4)
        .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
      val fuzzyCorpus = operators.Query.search(docs, fq)
        .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
      assert(fuzzyIdx === fuzzyCorpus && fuzzyIdx.nonEmpty,
        s"fuzzy corpus↔index parity for '$fq'")
    }
    intercept[IllegalArgumentException](operators.Query.parse("(a AND b) NEAR/2 c"))
  }

  test("query over saved index: a boolean query executes as one index scan and one shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val path = tmpDir("graft-idxbool") + "/index"
    IndexStore.save(Index.invertedIndexOf(Seq(
      (0L, "spark makes key order fast"),
      (1L, "key order matters"),
      (2L, "slow spark query with key order"),
      (3L, "spark alone")).toDF("doc_id", "text")), path, nBuckets = 4)
    // the leaves' postings are fetched once and grouped once by doc:
    // no second scan of the fetch, no per-node join exchange
    val df = operators.Query.searchIndex(spark, path, "spark AND key", nBuckets = 4)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 2L))
    val plan = df.queryExecution.executedPlan
    val scans = H.collect(plan) { case s: FileSourceScanExec => s }
    val shuffles = H.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(scans.size === 1 && shuffles.size === 1, plan.toString)
  }

  test("ranked query over saved index: BM25 matches the corpus path row for row") {
    import spark.implicits._
    val docs = sources.Tables.documents(spark, sfDir)
    val path = tmpDir("graft-idxrank") + "/index"
    IndexStore.save(Index.invertedIndexOf(docs), path, nBuckets = 8)
    // a store written before manifests carried document lengths — a
    // plain root with no `_docs`, then one whose `_docs` holds ids
    // only — fails ranked serving loudly, naming the upgrade
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (docsP, idsP) = (new org.apache.hadoop.fs.Path(path, "_docs"),
      new org.apache.hadoop.fs.Path(path, ".docs-ids"))
    spark.read.parquet(docsP.toString).select("doc_id").write.parquet(idsP.toString)
    assert(fs.delete(docsP, true))
    def legacyFails(): Unit = {
      val e = intercept[IllegalArgumentException] {
        operators.Query.searchRankedIndex(spark, path, "spark", 20, nBuckets = 8).collect()
      }
      assert(e.getMessage.contains("saveStats"))
      assert(intercept[IllegalArgumentException](operators.Query.searchRankedIndexOn(
        IndexStore.open(spark, path, nBuckets = 8), "spark")).getMessage.contains("saveStats"))
    }
    legacyFails()
    assert(fs.rename(idsP, docsP))
    legacyFails()
    IndexStore.saveStats(spark, path)
    assert(spark.read.parquet(docsP.toString).columns.toSeq === Seq("doc_id", "dl"))
    // a fat-df corpus: every doc holds `the` twice, every 10th also
    // holds `rare`
    val fat = (0L until 200L).map { i =>
      (i, "the the common words here" + (if (i % 10 == 0) " rare" else ""))
    }.toDF("doc_id", "text")
    val fatPath = tmpDir("graft-idxfat") + "/index"
    IndexStore.save(Index.invertedIndexOf(fat), fatPath, nBuckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // parity across the ranked surface: plain, NOT, boost, multi-term,
    // phrase (ranks all phrase words), NEAR, and a fat-df term beside a
    // rare one — corpus ↔ per-query ↔ handle, exact row equality
    // including score rounding and tie order
    Seq(
      (docs, path, 8, 20, Seq(
        "spark AND NOT slow",
        "spark^3 AND NOT slow",
        "spark AND join",
        "\"key order\" OR spark",
        "spark NEAR/4 join")),
      (fat, fatPath, 4, 10, Seq("the OR rare"))).foreach { case (corpus, p, nb, k, queries) =>
      val oi = IndexStore.open(spark, p, nBuckets = nb)
      try queries.foreach { q =>
        val want = rows(operators.Query.searchRanked(corpus, q, k = k))
        assert(want.nonEmpty, s"vacuous parity for '$q'")
        assert(rows(operators.Query.searchRankedIndex(spark, p, q, k = k, nBuckets = nb)) === want,
          s"ranked corpus↔index parity for '$q'")
        assert(rows(operators.Query.searchRankedIndexOn(oi, q, k = k)) === want,
          s"ranked corpus↔handle parity for '$q'")
      } finally oi.release()
    }
    // the plan is bucket-pruned and corpus-free
    val plan = operators.Query.searchRankedIndex(
      spark, path, "spark AND join", 20, nBuckets = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("term_bucket"))
    assert(!plan.contains("documents"), "ranked serving must not scan the corpus")
  }

  test("fielded query over saved index: lang:/source: leaves match the corpus path") {
    import org.apache.spark.sql.functions.col
    val docs = sources.Tables.documents(spark, sfDir)
    val path = tmpDir("graft-idxmeta") + "/index"
    IndexStore.save(Index.invertedIndexOf(docs), path, nBuckets = 8)
    // without _meta a fielded query fails loudly (never silently empty)
    val e = intercept[IllegalArgumentException](
      operators.Query.searchIndex(spark, path, "lang:en AND spark", nBuckets = 8))
    assert(e.getMessage.contains("saveMeta"))
    IndexStore.saveMeta(docs.select("doc_id", "lang", "source"), path)
    // parity across fielded shapes: field AND terms, NOT-field, OR
    // composition through a pure field branch
    val queries = Seq(
      "lang:en AND (spark OR query) AND NOT source:src0",
      "lang:de AND spark",
      "source:src1 AND NOT slow AND key",
      "lang:de OR spark")
    queries.foreach { q =>
      val want = operators.Query.search(docs, q)
        .collect().map(_.getLong(0)).sorted.toSeq
      val got = operators.Query.searchIndex(spark, path, q, nBuckets = 8)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got === want, s"fielded corpus↔index parity for '$q'")
      assert(got.nonEmpty, s"vacuous parity for '$q'")
    }
    // ranked path: the field leaf restricts matching, BM25 unchanged —
    // row-for-row parity including score rounding and tie order
    val rq = "lang:en AND spark AND NOT slow"
    val wantR = operators.Query.searchRanked(docs, rq, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val gotR = operators.Query
      .searchRankedIndex(spark, path, rq, k = 20, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotR === wantR && gotR.nonEmpty)
    // takedown hygiene: a tombstoned doc must not resurface through a
    // pure field leaf or an OR's metadata branch...
    val victim = gotR.head._1
    IndexStore.delete(spark, path, Seq(victim))
    assert(!operators.Query.searchIndex(spark, path, "lang:de OR spark", nBuckets = 8)
      .collect().map(_.getLong(0)).contains(victim))
    // ...and compaction CARRIES _meta (fielded queries keep working on
    // the folded store) while purging the victim's metadata from disk
    IndexStore.compactSegments(spark, path)
    assert(IndexStore.loadMeta(spark, path)
      .filter(col("doc_id") === victim).count() === 0)
    val afterFold = operators.Query
      .searchRankedIndex(spark, path, rq, k = 20, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the fold refreshed the stats snapshot (n/avgdl over survivors),
    // so the truth is the corpus path over the corpus MINUS the victim
    val wantFold = operators.Query
      .searchRanked(docs.filter(col("doc_id") =!= victim), rq, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(afterFold === wantFold && afterFold.nonEmpty,
      "fielded ranked serving must survive the fold minus the takedown")
  }

  test("fuzzy dictionary: SymSpell probe is lossless vs brute force; serving parity; compaction carries it") {
    import spark.implicits._
    // seeded vocab with adversarial shapes for the deletion-
    // neighborhood lemma: short terms, prefix/suffix-edited twins,
    // terms identical after two deletes
    val rnd = new scala.util.Random(11)
    val alpha = "abcde"
    val vocab = ((0 until 120).map { _ =>
      Seq.fill(3 + rnd.nextInt(8))(alpha(rnd.nextInt(alpha.length))).mkString
    } ++ Seq("a", "ab", "abc", "xabc", "abcx", "bc")).distinct
    val docs = vocab.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val path = tmpDir("graft-idxfuzzy") + "/index"
    IndexStore.save(Index.invertedIndexOf(docs), path, nBuckets = 4)
    IndexStore.saveFuzzy(spark, path)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val fzt = IndexStore.loadFuzzy(spark, path)
    for (probe <- Seq("abc", "abcd", "a", "abcde", "eabc", "zzz", vocab(7));
         d <- Seq(1, 2)) {
      val got = IndexStore.fuzzyTermsVia(fzt, probe, d)
        .collect().map(_.getString(0)).toSet
      val want = vocab.filter(w => lev(w, probe) <= d).toSet
      assert(got === want, s"probe=$probe d=$d")
    }
    // index-served fuzzy equals the corpus path with the table present
    // (the candidate-probe leg, not the scan fallback)
    val fq = "abc~1 OR xabc~2"
    def idsIdx(p: String): Seq[Long] = operators.Query
      .searchIndex(spark, p, fq, nBuckets = 4)
      .collect().map(_.getLong(0)).sorted.toSeq
    val fromCorpus = operators.Query.search(docs, fq)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(idsIdx(path) === fromCorpus && fromCorpus.nonEmpty)
    // compaction rebuilds the dictionary inside the fold and the
    // compacted index answers identically
    val out = tmpDir("graft-idxfuzzy-c") + "/index"
    IndexStore.compact(spark, path, out)
    assert(IndexStore.hasFuzzy(spark, out))
    assert(idsIdx(out) === fromCorpus)
  }

  test("prepared serving session: OpenIndex *On variants match the per-query path row for row") {
    import org.apache.spark.sql.functions.col
    val docs = sources.Tables.documents(spark, sfDir)
    val path = tmpDir("graft-idxopen") + "/index"
    IndexStore.save(Index.invertedIndexOf(docs), path, nBuckets = 8)
    IndexStore.saveMeta(docs.select("doc_id", "lang", "source"), path)
    // the handle pins the fuzzy dictionary too, so the spask~1 shape
    // below goes through the prepared SymSpell probe leg
    IndexStore.saveFuzzy(spark, path)
    val oi = IndexStore.open(spark, path, nBuckets = 8)
    // term lookup
    assert(IndexStore.lookupOn(oi, "spark").orderBy("doc_id").collect().toSeq ===
      IndexStore.lookup(spark, path, "spark", nBuckets = 8)
        .orderBy("doc_id").collect().toSeq)
    // boolean / phrase / prefix / fielded through the grammar
    Seq("spark AND join", "\"key order\" AND NOT slow", "quer* OR spark",
        "lang:en AND (spark OR query) AND NOT source:src0",
        "spask~1 OR join").foreach { q =>
      val want = operators.Query.searchIndex(spark, path, q, nBuckets = 8)
        .collect().map(_.getLong(0)).sorted.toSeq
      val got = operators.Query.searchIndexOn(oi, q)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got === want && got.nonEmpty, s"prepared parity for '$q'")
    }
    // ranked
    Seq("spark AND NOT slow", "spark^3 OR join", "lang:en AND spark").foreach { q =>
      val want = operators.Query.searchRankedIndex(spark, path, q, k = 20, nBuckets = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = operators.Query.searchRankedIndexOn(oi, q, k = 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === want && got.nonEmpty, s"prepared ranked parity for '$q'")
    }
    // the held relation still bucket-prunes at planning time
    val plan = IndexStore.lookupOn(oi, "spark").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("term_bucket"))
    // 6-shape serving-mix wiring (r14 fielded + fuzzy), per-query and
    // prepared: every shape measured against this store, every plan
    // pruned. With `_fuzzy` saved the fuzzy shape must prune too: a
    // per-query handle that skipped `_fuzzy` would fall back to the
    // unpruned dictionary scan
    val vocab = Serving.vocabOf(spark, path, n = 8)
    Seq(false, true).foreach { prepared =>
      val mr = Serving.mix(spark, path, 8, vocab, nQueries = 12, prepared = prepared,
        langs = Array("en"))
      assert(mr.shapes ===
        Seq("term", "bool", "phrase", "ranked", "fielded", "fuzzy"), s"prepared=$prepared")
      assert(mr.shapes.forall(s => mr.latencies(s).nonEmpty), s"prepared=$prepared")
      assert(mr.unpruned === 0, s"prepared=$prepared")
    }
    // snapshot semantics, stated and tested: a takedown after open()
    // is visible to fresh per-query reads but NOT through the handle
    val victim = IndexStore.lookupOn(oi, "spark")
      .select("doc_id").head().getLong(0)
    IndexStore.delete(spark, path, Seq(victim))
    assert(!IndexStore.lookup(spark, path, "spark", nBuckets = 8)
      .select("doc_id").collect().map(_.getLong(0)).contains(victim))
    assert(IndexStore.lookupOn(oi, "spark")
      .select("doc_id").collect().map(_.getLong(0)).contains(victim))
    // re-open sees it gone
    assert(!IndexStore.lookupOn(IndexStore.open(spark, path, nBuckets = 8), "spark")
      .select("doc_id").collect().map(_.getLong(0)).contains(victim))
  }

  test("index store: deleted doc vanishes from term/phrase/ranked serving, across re-open and compaction") {
    import spark.implicits._
    val path = tmpDir("graft-idxdelserve") + "/index"
    // segmented store: two landings, so the delete must resolve across
    // segments (doc 0 lands in seg 0; docs 2/3 in seg 1)
    val seg0 = Seq(
      (0L, "spark makes key order fast and spark is neat"),
      (1L, "key order matters in a sort")).toDF("doc_id", "text")
    val seg1 = Seq(
      (2L, "slow spark query with key order"),
      (3L, "spark spark spark everywhere")).toDF("doc_id", "text")
    assert(IndexStore.saveSegment(Index.invertedIndexOf(seg0), path, 0L, nBuckets = 4))
    assert(IndexStore.saveSegment(Index.invertedIndexOf(seg1), path, 1L, nBuckets = 4))
    def servedDocs(): (Seq[Long], Seq[Long], Seq[Long]) = (
      IndexStore.lookup(spark, path, "spark", nBuckets = 4)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
      operators.Query.searchIndex(spark, path, "\"key order\"", nBuckets = 4)
        .collect().map(_.getLong(0)).sorted.toSeq,
      operators.Query.searchRankedIndex(spark, path, "spark OR \"key order\"",
          k = 10, nBuckets = 4)
        .collect().map(_.getLong(0)).sorted.toSeq)
    val (t0, p0, r0) = servedDocs()
    assert(t0 === Seq(0L, 2L, 3L) && p0 === Seq(0L, 1L, 2L) &&
      r0 === Seq(0L, 1L, 2L, 3L))
    IndexStore.delete(spark, path, Seq(0L, 2L))
    val (t1, p1, r1) = servedDocs()
    assert(t1 === Seq(3L) && p1 === Seq(1L) && r1 === Seq(1L, 3L))
    // n counts the live docs at once: the takedown resolves through
    // the manifests' dead-key set, with no refresh step
    val liveN = () => IndexStore.open(spark, path, nBuckets = 4).corpus._1
    assert(liveN() === 2.0)
    IndexStore.compactSegments(spark, path)
    assert(!new java.io.File(s"$path/_tombstones").exists())
    assert(liveN() === 2.0, "the fold's manifest must count the same live docs")
    val (t2, p2, r2) = servedDocs()
    assert(t2 === t1 && p2 === p1 && r2 === r1,
      "serving results must be identical across the compaction")
    // re-open: a fresh reader over the on-disk store (restart
    // semantics — nothing cached carries over) sees the same results
    val again = operators.Query.searchRankedIndex(spark, path,
        "spark OR \"key order\"", k = 10, nBuckets = 4)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(again === r1)
  }

  test("index store: a fold whose every doc is taken down keeps the store readable as empty") {
    import spark.implicits._
    val path = tmpDir("graft-idxfoldempty") + "/index"
    val seg0 = Seq((0L, "spark key order"), (1L, "key order")).toDF("doc_id", "text")
    val seg1 = Seq((2L, "slow spark"), (1L, "key order again")).toDF("doc_id", "text")
    assert(IndexStore.saveSegment(Index.invertedIndexOf(seg0), path, 0L, nBuckets = 4))
    assert(IndexStore.saveSegment(Index.invertedIndexOf(seg1), path, 1L, nBuckets = 4))
    IndexStore.delete(spark, path, Seq(0L, 1L, 2L))
    // the resolved content is empty: the partitioned rewrite emits no
    // data file, so the fold must not swap a data-less root in
    IndexStore.compactSegments(spark, path)
    assert(IndexStore.load(spark, path).count() === 0L)
    assert(IndexStore.lookup(spark, path, "spark", nBuckets = 4).count() === 0L)
    // the store still takes landings, and the next fold reads them
    val seg2 = Seq((3L, "spark again")).toDF("doc_id", "text")
    assert(IndexStore.saveSegment(Index.invertedIndexOf(seg2), path, 2L, nBuckets = 4))
    IndexStore.compactSegments(spark, path)
    assert(IndexStore.segmentIds(spark, path) === Seq(2L))
    assert(!new java.io.File(s"$path/_tombstones").exists())
    assert(IndexStore.lookup(spark, path, "spark", nBuckets = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(IndexStore.load(spark, path).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("corpus store: lang-partitioned layout prunes single-language reads") {
    val dir = tmpDir("graft-corpus") + "/corpus"
    val docs = sources.Tables.documents(spark, sfDir)
    sources.CorpusStore.save(docs, dir)
    val back = sources.CorpusStore.load(spark, dir)
    assert(back.count() === docs.count())
    val de = sources.CorpusStore.loadLang(spark, dir, "de")
    assert(de.count() ===
      docs.filter(col("lang") === "de").count())
    // the lang filter must prune at planning time, not post-scan
    val plan = de.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
  }

  test("corpus store: compaction folds per-batch landing dirs into the canonical layout") {
    val base = tmpDir("graft-compact")
    val docs = sources.Tables.documents(spark, sfDir)
    // simulate a streaming gate's accumulation: 4 tiny batch dirs
    (0 until 4).foreach { b =>
      docs.filter(col("doc_id") % 4 === b)
        .repartition(3) // deliberately fragment: 3 files per batch
        .write.parquet(s"$base/landing/batch=$b")
    }
    val landed = spark.read.parquet(s"$base/landing")
    val filesBefore = landed.select(input_file_name()).distinct().count()
    sources.CorpusStore.compact(spark, s"$base/landing", s"$base/corpus")
    val compacted = sources.CorpusStore.load(spark, s"$base/corpus")
    assert(compacted.count() === docs.count())
    val filesAfter = compacted.select(input_file_name()).distinct().count()
    assert(filesAfter < filesBefore,
      s"compaction did not reduce files: $filesBefore -> $filesAfter")
    // compacted layout keeps the planning-time lang pruning
    val de = sources.CorpusStore.loadLang(spark, s"$base/corpus", "de")
    val plan = de.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
    assert(de.count() === docs.filter(col("lang") === "de").count())
  }

  test("cli: index/search/query mirror the reference's command surface") {
    val dir = tmpDir("graft-cli")
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.tsv"),
      "Doc One\tspark join spark\nDoc Two\tspark filter\nDoc Three\tsort merge\n")
    val stats = Cli.run(spark,
      Seq("index", s"$dir/docs.tsv", s"$dir/index", "4")).collect()
    assert(stats.head.getLong(0) === 6L) // 6 (term, title) postings
    assert(stats.head.getLong(1) === 5L) // 5 distinct terms
    val hits = Cli.run(spark,
        Seq("search", s"$dir/index", "spark", "10", "4")).collect()
      .map(r => (r.getAs[String]("title"), r.getAs[Long]("tf")))
    assert(hits.toSeq === Seq(("Doc One", 2L), ("Doc Two", 1L)))
    val q = Cli.run(spark,
        Seq("query", s"$dir/docs.tsv", "spark AND NOT filter")).collect()
    assert(q.map(_.getAs[String]("title")).toSeq === Seq("Doc One"))
    val bq = Cli.run(spark,
        Seq("bquery", s"$dir/index", "spark AND NOT filter", "4")).collect()
    assert(bq.map(_.getAs[String]("title")).toSeq === Seq("Doc One"))
    // without a trailing bucket count, `search` and `bquery` read the
    // one the index was saved with (4, not the default 64)
    assert(Cli.run(spark, Seq("search", s"$dir/index", "spark")).collect()
      .map(r => (r.getAs[String]("title"), r.getAs[Long]("tf"))).toSeq === hits.toSeq)
    assert(Cli.run(spark, Seq("bquery", s"$dir/index", "spark AND NOT filter")).collect()
      .toSeq === bq.toSeq)
    // the per-query calls key a title-keyed index by title with no id
    // argument: the handle knows its id column
    assert(operators.Query.searchIndex(spark, s"$dir/index", "spark AND NOT filter",
      nBuckets = 4).collect().toSeq === bq.toSeq)
    val bstats = Cli.run(spark, Seq("stats", s"$dir/index")).collect()
    assert(bstats.map(_.getAs[Long]("terms")).sum === 5L)
    assert(bstats.map(_.getAs[Long]("postings")).sum === 6L)
    // `query` given a SAVED INDEX path dispatches to the index-served
    // BM25 path (document lengths from the build's `_docs` manifest)
    // and must return exactly what the corpus path returns — incl. the
    // score
    val iq = Cli.run(spark,
        Seq("query", s"$dir/index", "spark AND NOT filter")).collect()
      .map(r => (r.getAs[String]("title"), r.getAs[Double]("score")))
    val cq = Cli.run(spark,
        Seq("query", s"$dir/docs.tsv", "spark AND NOT filter")).collect()
      .map(r => (r.getAs[String]("title"), r.getAs[Double]("score")))
    assert(iq.toSeq === cq.toSeq && iq.nonEmpty)
    assert(operators.Query.searchRankedIndex(spark, s"$dir/index", "spark AND NOT filter",
        k = 10, nBuckets = 4).collect()
      .map(r => (r.getAs[String]("title"), r.getAs[Double]("score"))).toSeq === iq.toSeq)
    assert(spark.read.parquet(s"$dir/index/_docs").columns.toSeq === Seq("title", "dl"))
    // the build persisted the SymSpell dictionary: `~1` against the
    // index goes through the candidate probe, not the scan fallback
    assert(IndexStore.hasFuzzy(spark, s"$dir/index"))
    val fq = Cli.run(spark,
        Seq("bquery", s"$dir/index", "spork~1 AND NOT filter", "4")).collect()
    assert(fq.map(_.getAs[String]("title")).toSeq === Seq("Doc One"))
    intercept[IllegalArgumentException](Cli.run(spark, Seq("bogus")))
  }

  test("cli: jsonl corpora index and query through the same verbs") {
    val dir = tmpDir("graft-cli-jsonl")
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"doc_id": 10, "text": "spark join spark", "lang": "en", "source": "s"}
        |{"doc_id": 11, "text": "spark filter", "lang": "en", "source": "s"}
        |{"doc_id": 12, "text": "sort merge", "lang": "en", "source": "s"}
        |""".stripMargin)
    val stats = Cli.run(spark,
      Seq("index", s"$dir/docs.jsonl", s"$dir/index", "4")).collect()
    assert(stats.head.getLong(0) === 6L && stats.head.getLong(1) === 5L)
    val hits = Cli.run(spark,
        Seq("search", s"$dir/index", "spark", "10", "4")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tf")))
    assert(hits.toSeq === Seq((10L, 2L), (11L, 1L)))
    val bq = Cli.run(spark,
        Seq("bquery", s"$dir/index", "spark AND NOT filter", "4")).collect()
    assert(bq.map(_.getAs[Long]("doc_id")).toSeq === Seq(10L))
    // export: the same corpus back out as a single JSONL shard
    val ex = Cli.run(spark,
      Seq("export", s"$dir/docs.jsonl", s"$dir/export", "1")).collect()
    assert(ex.head.getLong(0) === 3L)
    assert(Jsonl.readDocuments(spark, s"$dir/export").count() === 3L)
    // takedown: doc 10 tombstoned, gone from search; `compact` folds
    // it out for real (tombstone dir vanishes, postings drop)
    val td = Cli.run(spark,
      Seq("takedown", s"$dir/index", "10", "compact")).collect()
    assert(td.head.getLong(0) === 2L) // docs_left
    assert(!new java.io.File(s"$dir/index/_tombstones").exists())
    val after = Cli.run(spark,
        Seq("search", s"$dir/index", "spark", "10", "4")).collect()
      .map(_.getAs[Long]("doc_id"))
    assert(after.toSeq === Seq(11L))
  }

  test("cli: takedown on a title-keyed index fails loudly instead of no-opping") {
    val dir = tmpDir("graft-cli-takedown-title")
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.tsv"),
      "Doc One\tspark join\nDoc Two\tsort merge\n")
    Cli.run(spark, Seq("index", s"$dir/docs.tsv", s"$dir/index", "4")).collect()
    val e = intercept[IllegalArgumentException](
      Cli.run(spark, Seq("takedown", s"$dir/index", "1")))
    assert(e.getMessage.contains("title-keyed"))
  }

  test("cli: a mistyped takedown tail fails instead of silently skipping the fold") {
    val dir = tmpDir("graft-cli-takedown-typo")
    // validation happens before any landing: the tombstone must NOT
    // land when the operator's intent ("fold for real") was garbled
    val e = intercept[IllegalArgumentException](
      Cli.run(spark, Seq("takedown", s"$dir/index", "1", "comapct")))
    assert(e.getMessage.contains("compact"))
    assert(!new java.io.File(s"$dir/index/_tombstones").exists())
  }

  test("cli: clean runs the funnel and writes the survivor corpus") {
    val dir = tmpDir("graft-cli-clean")
    // base passes every quality rule (24 tokens, stopwords, high TTR);
    // d2 is its exact dup; d3 reorders its words — same tf vector, so
    // the SAME simhash (a guaranteed near-dup pair); d4 fails quality
    val base = "the quick brown fox jumps over a lazy dog while the " +
      "bright sun warms green hills and cool rivers flow past quiet villages today"
    val shuffled = base.split(" ").reverse.mkString(" ")
    val other = "an old ship of the line sails across deep waters under grey " +
      "skies carrying many heavy crates toward a distant port where traders wait"
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.tsv"),
      s"A\t$base\nB\t$base\nC\t$shuffled\nD\tx y z\nE\t$other\n")
    val funnel = Cli.run(spark,
        Seq("clean", s"$dir/docs.tsv", s"$dir/clean")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel === Map("0_raw" -> 5L, "1_quality" -> 4L,
      "2_exact_dedup" -> 3L, "3_near_dedup" -> 2L))
    val kept = spark.read.parquet(s"$dir/clean").collect()
      .map(_.getAs[String]("text")).toSet
    assert(kept.size === 2 && kept.contains(other))
    assert((kept - other).head == base || (kept - other).head == shuffled)
  }

  test("sql extensions: registered functions plan the native kernels") {
    val h = spark.sql("SELECT rolling_hash('abc')").head().getLong(0)
    assert(h === HashImpl.roll(UTF8String.fromString("abc"), 1000000007L))
    val hm = spark.sql("SELECT rolling_hash('abc', 97)").head().getLong(0)
    assert(hm === HashImpl.roll(UTF8String.fromString("abc"), 97L))

    val sig = spark.sql(
      "SELECT minhash_sig(shingle_hash(array('a','b','c','d')))").head().getSeq[Long](0)
    assert(sig.length === 16 && sig.forall(_ >= 0))
    assert(spark.sql("SELECT minhash_sig(shingle_hash(array('a','b')))")
      .head().getSeq[Long](0).forall(_ === -1L)) // <3 tokens -> empty shingles

    val cos = spark.sql(
      "SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F))").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    assert(spark.sql("SELECT dot_product(array(1.0F,2.0F), array(3.0F,4.0F))")
      .head().getDouble(0) === 11.0)
    assert(spark.sql("SELECT norm2(array(3.0F,4.0F))").head().getDouble(0) === 25.0)
  }

  test("bucketed tables: co-bucketed join plans with NO shuffle exchange") {
    val dir = tmpDir("graft-bucketed")
    val orders = sources.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = sources.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_acctbal")
    sources.BucketedStore.save(orders, "b_orders", s"$dir/orders", "o_custkey", 8)
    sources.BucketedStore.save(cust, "b_cust", s"$dir/cust", "c_custkey", 8)
    try {
      // round-trip intact
      assert(sources.BucketedStore.load(spark, "b_orders").count() === orders.count())
      // broadcast disabled so the join MUST be a sort-merge — which the
      // bucket layout then plans with zero Exchange on either side
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = sources.BucketedStore.load(spark, "b_orders")
          .join(sources.BucketedStore.load(spark, "b_cust"),
            col("o_custkey") === col("c_custkey"))
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
        assert(j.count() > 0)
        // bucket-count mismatch degrades to shuffling ONLY the small
        // mismatched side, never both
        sources.BucketedStore.save(cust, "b_cust4", s"$dir/cust4", "c_custkey", 4)
        val m = sources.BucketedStore.load(spark, "b_orders")
          .join(sources.BucketedStore.load(spark, "b_cust4"),
            col("o_custkey") === col("c_custkey"))
        val mPlan = m.queryExecution.executedPlan.toString
        assert(mPlan.split("Exchange").length - 1 <= 1, s"both sides shuffle:\n$mPlan")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally Seq("b_orders", "b_cust", "b_cust4").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ranked exactness: scores equal the corpus path after landings, takedowns, folds") {
    import spark.implicits._
    val path = tmpDir("graft-exact") + "/index"
    var live = Map.empty[Long, String]
    def land(seg: Long, docs: (Long, String)*): Unit = {
      assert(IndexStore.saveSegment(Index.invertedIndexOf(docs.toDF("doc_id", "text")),
        path, seg, nBuckets = 4))
      live ++= docs
    }
    def scores(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val queries = Seq("spark", "spark OR join", "spark^2 AND NOT slow", "\"key order\" OR query")
    // no refresh call anywhere: each snapshot's per-query and handle
    // rankings equal the corpus path over exactly the live docs, row
    // for row with scores
    def exact(stage: String): Unit = {
      val liveDocs = live.toSeq.toDF("doc_id", "text")
      val oi = IndexStore.open(spark, path, nBuckets = 4)
      try queries.foreach { q =>
        val want = scores(operators.Query.searchRanked(liveDocs, q, k = 10))
        assert(want.nonEmpty, s"vacuous exactness for '$q'")
        assert(scores(operators.Query.searchRankedIndex(spark, path, q, k = 10,
          nBuckets = 4)) === want, s"$stage: per-query '$q'")
        assert(scores(operators.Query.searchRankedIndexOn(oi, q, k = 10)) === want,
          s"$stage: handle '$q'")
      } finally oi.release()
    }
    land(0L, 0L -> "spark query engine", 1L -> "spark join fast", 2L -> "key order spark slow")
    // a segment written before manifests carried dl is refused until
    // saveStats rewrites its manifest
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (docsP, idsP) = (new org.apache.hadoop.fs.Path(s"$path/seg=0/_docs"),
      new org.apache.hadoop.fs.Path(s"$path/seg=0/.docs-ids"))
    spark.read.parquet(docsP.toString).select("doc_id").write.parquet(idsP.toString)
    assert(fs.delete(docsP, true) && fs.rename(idsP, docsP))
    assert(intercept[IllegalArgumentException](operators.Query.searchRankedIndex(spark, path,
      "spark", k = 10, nBuckets = 4)).getMessage.contains("saveStats"))
    IndexStore.saveStats(spark, path)
    exact("first landing")
    // a new doc and a re-landed update of doc 1 with other terms
    land(1L, 3L -> "spark spark streaming", 1L -> "join key order query words")
    exact("re-landed update")
    assert(IndexStore.deleteBatch(Seq(0L).toDF("doc_id"), path, 0L))
    live -= 0L
    exact("takedown")
    IndexStore.compactSegments(spark, path)
    assert(IndexStore.segmentIds(spark, path).size === 1)
    assert(!new java.io.File(s"$path/_tombstones").exists())
    exact("fold")
  }

  test("held rows keep lineage: a handle serves the same rows after its blocks are lost") {
    val path = tmpDir("graft-lineage") + "/index"
    val liveDocs = churnedStore(path)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val oi = IndexStore.open(spark, path, nBuckets = 4)
    def served(): (Seq[Long], Seq[(Long, Double)]) = (
      operators.Query.searchIndexOn(oi, "spark OR join").collect().map(_.getLong(0)).sorted.toSeq,
      operators.Query.searchRankedIndexOn(oi, "spark OR join", k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val first = served()
    assert(first._1.nonEmpty && first._2 === operators.Query
      .searchRanked(liveDocs, "spark OR join", k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // drop every block the handle's queries left behind, as an
    // executor loss would
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.nonEmpty, "the first queries hold the dead-key set")
    held.foreach(id => org.apache.spark.SparkEnv.get.blockManager.master.removeRdd(id, true))
    assert(served() === first)
    oi.release()
    assert(served() === first, "a released handle still serves, from lineage")
  }

  test("serving handle staleness: landings and takedowns flip stale; reopenIfStale serves the new state") {
    import spark.implicits._
    val path = tmpDir("graft-handle") + "/index"
    val docs1 = Seq((0L, "alpha beta"), (1L, "alpha gamma")).toDF("doc_id", "text")
    IndexStore.saveSegment(Index.invertedIndexOf(docs1), path, 0L, nBuckets = 4)
    val oi = IndexStore.open(spark, path, nBuckets = 4)
    assert(!IndexStore.stale(oi), "a just-opened handle is not stale")
    assert(IndexStore.reopenIfStale(oi) eq oi, "no reopen when nothing moved")
    // a segment landing flips stale; reopen sees the new doc
    IndexStore.saveSegment(Index.invertedIndexOf(
      Seq((2L, "alpha delta")).toDF("doc_id", "text")), path, 1L, nBuckets = 4)
    assert(IndexStore.stale(oi), "a landed segment must flip stale")
    val oi2 = IndexStore.reopenIfStale(oi)
    assert(operators.Query.searchIndexOn(oi2, "alpha")
      .collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L))
    assert(!IndexStore.stale(oi2))
    // a takedown flips stale again; reopen anti-joins it out
    IndexStore.delete(spark, path, Seq(1L))
    assert(IndexStore.stale(oi2), "a takedown landing must flip stale")
    val oi3 = IndexStore.reopenIfStale(oi2)
    assert(operators.Query.searchIndexOn(oi3, "alpha")
      .collect().map(_.getLong(0)).toSet === Set(0L, 2L))
    // a side-table refresh flips stale too (the handle pins _fuzzy)
    IndexStore.saveFuzzy(spark, path)
    assert(IndexStore.stale(oi3), "a side-table refresh must flip stale")
  }

  /** A 3-segment store with re-landed docs and two takedown batches:
    * doc 1 lands in every segment, the last time with fewer terms (its
    * older `spark`/`key order` postings must vanish); doc 7 is
    * re-landed, then taken down (every version must go); docs 2 and 5
    * are taken down in separate batches. Returns the live corpus.
    */
  private def churnedStore(path: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val segs = Seq(
      Seq(0L -> "spark makes key order fast and spark is neat",
        1L -> "key order matters in a sort",
        2L -> "slow spark query with key order",
        3L -> "alpha beta gamma",
        7L -> "spark key order seven"),
      Seq(4L -> "spark join engine key order",
        1L -> "key order matters spark join",
        5L -> "spark streaming slow"),
      Seq(1L -> "join",
        6L -> "spark key order delta",
        7L -> "spark join seven"))
    segs.zipWithIndex.foreach { case (docs, i) =>
      assert(IndexStore.saveSegment(
        Index.invertedIndexOf(docs.toDF("doc_id", "text")), path, i.toLong, nBuckets = 4))
      if (i == 1) IndexStore.deleteBatch(Seq(2L).toDF("doc_id"), path, 0L)
    }
    IndexStore.deleteBatch(Seq(5L, 7L).toDF("doc_id"), path, 1L)
    val gone = Set(2L, 5L, 7L)
    segs.flatten.reverse.distinctBy(_._1).filterNot(d => gone(d._1))
      .toDF("doc_id", "text")
  }

  test("dead-key set: *On serving equals the per-query path and the live corpus on a churned segmented store") {
    val path = tmpDir("graft-deadkeys") + "/index"
    val liveDocs = churnedStore(path)
    val oi = IndexStore.open(spark, path, nBuckets = 4)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).distinct.sorted.toSeq
    val term = IndexStore.lookup(spark, path, "spark", nBuckets = 4)
      .orderBy("doc_id", "term").collect().toSeq
    assert(IndexStore.lookupOn(oi, "spark").orderBy("doc_id", "term").collect().toSeq === term)
    assert(term.map(_.getAs[Long]("doc_id")).distinct === Seq(0L, 4L, 6L))
    assert(ids(IndexStore.lookupOn(oi, "spark")) ===
      ids(operators.Query.search(liveDocs, "spark")))
    Seq("spark AND join", "\"key order\"", "join AND NOT spark",
        "key AND NOT (slow OR seven)", "alpha OR matters").foreach { q =>
      val got = ids(operators.Query.searchIndexOn(oi, q))
      assert(got === ids(operators.Query.searchIndex(spark, path, q, nBuckets = 4)),
        s"handle vs per-query for '$q'")
      assert(got === ids(operators.Query.search(liveDocs, q)), s"handle vs corpus for '$q'")
    }
    assert(ids(operators.Query.searchIndexOn(oi, "join AND NOT spark")) === Seq(1L),
      "doc 1's superseded spark postings must not survive")
    Seq("spark OR join", "\"key order\" OR alpha").foreach { q =>
      def ranked(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = ranked(operators.Query.searchRankedIndexOn(oi, q, k = 10))
      assert(got === ranked(operators.Query.searchRankedIndex(spark, path, q, k = 10,
        nBuckets = 4)), s"ranked handle vs per-query for '$q'")
      assert(got === ranked(operators.Query.searchRanked(liveDocs, q, k = 10)),
        s"ranked handle vs corpus for '$q'")
    }
  }

  test("dead-key set: handle plans read no manifest or tombstone file; a 1-segment clean store plans no join") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
      H.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    // one segment, no tombstones: nothing to resolve, so no join and
    // no exchange in the served plan
    val one = tmpDir("graft-deadkeys1") + "/index"
    IndexStore.saveSegment(Index.invertedIndexOf(
      Seq((0L, "spark key"), (1L, "spark order")).toDF("doc_id", "text")), one, 0L, nBuckets = 4)
    val plan1 = IndexStore.lookupOn(IndexStore.open(spark, one, nBuckets = 4), "spark")
      .queryExecution.executedPlan.toString
    assert(!plan1.contains("Join") && !plan1.contains("Exchange"), plan1)
    // churned store: after the handle's first query, a query plan reads
    // the postings only — bucket-pruned — and the held dead-key rows
    val path = tmpDir("graft-deadkeys3") + "/index"
    churnedStore(path)
    def metaScans(df: org.apache.spark.sql.DataFrame) = scans(df).filter(_.relation
      .location.rootPaths.exists(p => p.toString.contains("_docs") ||
        p.toString.contains("_tombstones")))
    // the read-latest paths plan the manifests and tombstones per
    // query: they hold nothing between queries
    assert(metaScans(IndexStore.lookup(spark, path, "spark", nBuckets = 4)).nonEmpty)
    assert(metaScans(operators.Query.searchRankedIndex(spark, path, "spark OR join",
      k = 5, nBuckets = 4)).nonEmpty)
    val oi = IndexStore.open(spark, path, nBuckets = 4)
    IndexStore.lookupOn(oi, "spark").collect()
    Seq(IndexStore.lookupOn(oi, "join"),
        operators.Query.searchIndexOn(oi, "spark AND \"key order\""),
        operators.Query.searchRankedIndexOn(oi, "spark OR join", k = 5)).foreach { df =>
      assert(metaScans(df).isEmpty, df.queryExecution.executedPlan.toString)
      val postings = scans(df).filter(_.relation.partitionSchema.fieldNames.contains("term_bucket"))
      assert(postings.nonEmpty && postings.forall(_.partitionFilters
        .exists(_.references.exists(_.name == "term_bucket"))),
        df.queryExecution.executedPlan.toString)
    }
  }

  test("dead-key set: landings after open stay invisible through the old handle until reopenIfStale") {
    import spark.implicits._
    val path = tmpDir("graft-deadkeys-snap") + "/index"
    churnedStore(path)
    val queried = IndexStore.open(spark, path, nBuckets = 4)
    val unqueried = IndexStore.open(spark, path, nBuckets = 4)
    def served(oi: IndexStore.OpenIndex): (Set[Long], Set[Long]) = (
      operators.Query.searchIndexOn(oi, "spark").collect().map(_.getLong(0)).toSet,
      operators.Query.searchIndexOn(oi, "neat").collect().map(_.getLong(0)).toSet)
    val before = served(queried)
    assert(before === ((Set(0L, 4L, 6L), Set(0L))))
    // doc 0 re-lands without `neat`/`spark`, doc 4 is taken down
    assert(IndexStore.saveSegment(Index.invertedIndexOf(
      Seq((0L, "key order only")).toDF("doc_id", "text")), path, 3L, nBuckets = 4))
    assert(IndexStore.deleteBatch(Seq(4L).toDF("doc_id"), path, 2L))
    assert(served(queried) === before, "a queried handle's dead-key set is pinned")
    assert(served(unqueried) === before, "an unqueried handle is pinned at open")
    assert(IndexStore.stale(queried))
    val fresh = IndexStore.reopenIfStale(queried)
    assert(served(fresh) === ((Set(6L), Set.empty[Long])))
  }

  test("dead-key set: a segment landing after the root listing is in neither side of the read") {
    import spark.implicits._
    val path = tmpDir("graft-deadkeys-race") + "/index"
    churnedStore(path)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val listed = rows(IndexStore.load(spark, path))
    val l = sources.SegmentedStore.listing(spark, path)
    // lands between a reader's listing and its reads: doc 0 re-lands
    // with different terms, doc 9 is new
    assert(IndexStore.saveSegment(Index.invertedIndexOf(
      Seq((0L, "key order only"), (9L, "spark nine")).toDF("doc_id", "text")),
      path, 3L, nBuckets = 4))
    assert(rows(IndexStore.loadListed(spark, path, l)) === listed,
      "the read must resolve exactly the listed segments: doc 0 once, at its listed version")
    val latest = IndexStore.load(spark, path)
    assert(latest.filter($"doc_id" === 0L).select("term").as[String].collect().sorted.toSeq ===
      Seq("key", "only", "order"))
    assert(latest.filter($"doc_id" === 9L).count() === 2L)
  }

  test("index merge carries side tables: merged store serves ranked/fielded/fuzzy immediately") {
    import spark.implicits._
    val base = tmpDir("graft-mergeside") + "/base"
    val delta = tmpDir("graft-mergeside") + "/delta"
    val out = tmpDir("graft-mergeside") + "/merged"
    val docs1 = Seq((0L, "spark engine"), (1L, "spark query"))
      .toDF("doc_id", "text")
    val docs2 = Seq((1L, "spark stream"), (2L, "fast stream"))
      .toDF("doc_id", "text") // doc 1 re-crawled
    IndexStore.save(Index.invertedIndexOf(docs1), base, nBuckets = 4)
    IndexStore.saveMeta(Seq((0L, "en"), (1L, "de")).toDF("doc_id", "lang"), base)
    IndexStore.saveFuzzy(spark, base)
    IndexStore.save(Index.invertedIndexOf(docs2), delta, nBuckets = 4)
    IndexStore.saveMeta(Seq((1L, "fr"), (2L, "en")).toDF("doc_id", "lang"), delta)
    IndexStore.merge(spark, base, delta, out, nBuckets = 4)
    assert(IndexStore.hasMeta(spark, out) && IndexStore.hasFuzzy(spark, out))
    // ranked: parity with a fresh build over the merged corpus
    val mergedDocs = Seq((0L, "spark engine"), (1L, "spark stream"),
      (2L, "fast stream")).toDF("doc_id", "text")
    val want = operators.Query.searchRanked(mergedDocs, "spark", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = operators.Query
      .searchRankedIndex(spark, out, "spark", k = 10, nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want, "the merged store's ranking must equal a fresh build's")
    // fielded: the re-crawled doc carries the DELTA's metadata row
    assert(operators.Query.searchIndexOn(
        IndexStore.open(spark, out, nBuckets = 4), "lang:fr AND spark")
      .collect().map(_.getLong(0)).toSet === Set(1L))
    assert(operators.Query.searchIndex(spark, out, "lang:en", nBuckets = 4)
      .collect().map(_.getLong(0)).toSet === Set(0L, 2L))
    // fuzzy: the dictionary covers terms that exist only in the delta
    assert(operators.Query.searchIndex(spark, out, "strean~1", nBuckets = 4)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("fielded index: title:/body: leaves match the corpus path; plain terms stay body-scoped; bucket-pruned") {
    import spark.implicits._
    // REAL distinct fields — the title has words the body lacks, so
    // field scoping is observable (the gate key's synthesized title is
    // a body prefix; this spec proves the general machinery)
    val docs = Seq(
      (0L, "spark engine fast", "intro guide"),
      (1L, "query planner", "spark overview"),
      (2L, "spark spark join", "join notes")).toDF("doc_id", "text", "title")
    val fields = Map("body" -> col("text"), "title" -> col("title"))
    assert(operators.Query.searchFielded(docs, "title:spark", fields)
      .collect().map(_.getLong(0)).toSet === Set(1L),
      "title: must match the title stream only")
    assert(operators.Query.searchFielded(docs, "spark", fields)
      .collect().map(_.getLong(0)).toSet === Set(0L, 2L),
      "plain terms must stay body-scoped on a fielded stream")
    // saved fielded index: corpus↔index parity across compositions
    val path = tmpDir("graft-fielded") + "/index"
    IndexStore.save(Index.fieldedInvertedIndexOf(docs, fields), path, nBuckets = 4)
    Seq("title:spark", "spark", "title:join AND spark",
        "body:planner OR title:guide", "\"spark spark\" AND title:notes")
      .foreach { q =>
        val want = operators.Query.searchFielded(docs, q, fields)
          .collect().map(_.getLong(0)).toSet
        val viaIdx = operators.Query.searchIndex(spark, path, q, nBuckets = 4)
          .collect().map(_.getLong(0)).toSet
        assert(viaIdx === want, s"fielded corpus<->index parity for '$q'")
        assert(want.nonEmpty, s"vacuous fielded parity for '$q'")
      }
    // a title: leaf is the SAME bucket-pruned term fetch as a plain
    // term — field never costs pruning
    val plan = operators.Query.searchIndex(spark, path, "title:spark", nBuckets = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("term_bucket"),
      s"fielded leaf fetch not bucket-pruned:\n$plan")
    // ranked serving over a fielded index scores BODY tf only: row
    // parity with a plain body-only index (incl. dl from the
    // manifest's body-only sum)
    val plainPath = tmpDir("graft-fielded") + "/plain"
    IndexStore.save(Index.invertedIndexOf(docs), plainPath, nBuckets = 4)
    val wantRanked = operators.Query
      .searchRankedIndex(spark, plainPath, "spark", k = 10, nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val gotRanked = operators.Query
      .searchRankedIndex(spark, path, "spark", k = 10, nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotRanked === wantRanked && wantRanked.nonEmpty,
      "fielded-index ranking must equal the body-only index's")
  }

  test("tombstones: landings keyed under both doc_id and a custom key normalize at read") {
    val store = tmpDir("graft-tombkeys") + "/store"
    // a vec_id-keyed landing plus a default doc_id-keyed one: the
    // union schema carries BOTH columns; setOf must coalesce instead
    // of renaming into a duplicate-column wreck
    sources.Tombstones.append(spark, store, Seq(1L), key = "vec_id")
    sources.Tombstones.append(spark, store, Seq(2L))
    val got = sources.Tombstones.setOf(spark, store, key = "vec_id").get
    assert(got.columns.toSeq === Seq("vec_id"))
    assert(got.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  /** The jobs `body` submits from this thread, counted by a listener
    * over a job-local tag. A marker job run afterwards flushes the
    * listener's queue, which delivers in order: once the marker's
    * start is seen, every job of `body` has been counted.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (tag, marker) = ("graft.spec.counted", "graft.spec.marker")
    val count = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty(marker) != null) flushed.countDown()
          else if (p.getProperty(tag) != null) count.incrementAndGet()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(tag, "1")
      val out = try body finally sc.setLocalProperty(tag, null)
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never flushed")
      (out, count.get)
    } finally sc.removeSparkListener(l)
  }

  /** A 64-bucket store whose segments each span more partition
    * directories than Spark's parallel-listing threshold (32): doc i
    * holds words w(5i)..w(5i+79), so every segment writes well over
    * 32 buckets.
    */
  private def wideDocs(ids: Seq[Long], shift: Int = 0) = {
    import spark.implicits._
    ids.map(i => (i, (0 until 80).map(k => s"w${5 * i + k + shift}").mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("index store: open and reopenIfStale run no job; each segment's _docs is its postings' doc set") {
    import spark.implicits._
    val path = tmpDir("graft-jobless") + "/index"
    assert(IndexStore.saveSegment(Index.invertedIndexOf(wideDocs(0L to 5L)), path, 0L))
    // doc 1 re-lands with other words; doc 9 is new
    assert(IndexStore.saveSegment(Index.invertedIndexOf(wideDocs(Seq(1L, 9L), shift = 7)), path, 1L))
    assert(IndexStore.deleteBatch(Seq(2L).toDF("doc_id"), path, 0L))
    val (_, statsJobs) = jobsOf(IndexStore.saveStats(spark, path))
    assert(statsJobs === 0, "saveStats must not rewrite manifests that carry dl")
    IndexStore.saveMeta((0L to 9L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang"), path)
    IndexStore.saveFuzzy(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(path, "seg=0"))
      .count(_.getPath.getName.startsWith("term_bucket=")) > 32)

    val (oi, openJobs) = jobsOf(IndexStore.open(spark, path))
    assert(openJobs === 0, "open must resolve every relation on the driver")
    assert(oi.docs.isDefined && oi.meta.isDefined && oi.fuzzy.isDefined && oi.deadKeys.isDefined)
    def served(h: IndexStore.OpenIndex, q: String): Set[Long] =
      operators.Query.searchIndexOn(h, q).collect().map(_.getLong(0)).toSet
    // doc 1's first version and taken-down doc 2 held w10
    assert(served(oi, "w10") === Set(0L))
    assert(served(oi, "w12") === Set(0L, 1L))
    assert(served(oi, "w100 AND NOT w131") === Set(5L))

    assert(IndexStore.saveSegment(Index.invertedIndexOf(wideDocs(Seq(3L, 11L), shift = 3)), path, 2L))
    val (oi2, reopenJobs) = jobsOf(IndexStore.reopenIfStale(oi))
    assert(!(oi2 eq oi), "a landing must make the handle stale")
    assert(reopenJobs === 0, "reopenIfStale must resolve every relation on the driver")
    // doc 3's first version held w15; its second does not
    assert(served(oi2, "w15") === Set(0L, 1L))
    assert(served(oi2, "w135") === Set(11L))

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val manifests = (0 to 2).map { seg =>
      val m = spark.read.parquet(s"$path/seg=$seg/_docs")
      assert(m.columns.toSeq === Seq("doc_id", "dl"))
      // dl is the doc's length: every wide doc holds 80 words once
      assert(m.select("dl").distinct().collect().map(_.getDouble(0)).toSeq === Seq(80.0))
      assert(m.count() === ids(m).size.toLong, s"seg=$seg manifest holds duplicates")
      assert(ids(m) === ids(spark.read.parquet(s"$path/seg=$seg")),
        s"seg=$seg manifest must equal its postings' doc set")
      ids(m)
    }
    assert(manifests === Seq((0L to 5L).toSet, Set(1L, 9L), Set(3L, 11L)))
  }

  test("ranked serving: jobs per query on a fresh handle, a warm handle and the per-query path") {
    import spark.implicits._
    // (first query on a fresh handle, second query, per-query path),
    // each counted from planning through collect
    def jobs(path: String): Seq[Int] = {
      val q = "spark OR join"
      def ran(df: => org.apache.spark.sql.DataFrame): Int = jobsOf(df.collect())._2
      val oi = IndexStore.open(spark, path, nBuckets = 4)
      try Seq(ran(operators.Query.searchRankedIndexOn(oi, q, k = 10)),
        ran(operators.Query.searchRankedIndexOn(oi, q, k = 10)),
        ran(operators.Query.searchRankedIndex(spark, path, q, k = 10, nBuckets = 4)))
      finally oi.release()
    }
    val one = tmpDir("graft-rankjobs1") + "/index"
    assert(IndexStore.saveSegment(Index.invertedIndexOf(Seq(
      0L -> "spark makes key order fast and spark is neat",
      1L -> "key order matters spark join",
      2L -> "spark join seven").toDF("doc_id", "text")), one, 0L, nBuckets = 4))
    assert(jobs(one) === Seq(8, 7, 8), "1-segment store")
    val churned = tmpDir("graft-rankjobs3") + "/index"
    churnedStore(churned)
    // the per-query path resolves the dead-key set twice: once for
    // the (n, avgdl) collect and once inside the query plan
    assert(jobs(churned) === Seq(11, 8, 12), "3-segment store with tombstones")
  }

  test("batch-keyed ledger: the prior frame over two segments is built with no job") {
    import spark.implicits._
    val store = tmpDir("graft-prior") + "/ledger"
    Seq(0L, 1L).foreach { b =>
      assert(sources.SegmentedStore.land(spark, store, b, partitioned = false, Some(b))(
        Seq((s"h$b", b), (s"g$b", b)).toDF("text_md5", "src_batch").write.parquet(_)))
    }
    val schema = "text_md5 STRING, src_batch BIGINT"
    val (prior, jobs) = jobsOf(sources.SegmentedStore.priorBatches(spark, store, 2L, schema))
    assert(jobs === 0, "the prior frame must take its schema from a footer, not a job")
    assert(prior.columns.toSeq === Seq("text_md5", "src_batch"))
    assert(prior.collect().map(_.getString(0)).toSet === Set("h0", "g0", "h1", "g1"))
    // a replay of batch 1 screens against batch 0's rows only
    assert(sources.SegmentedStore.priorBatches(spark, store, 1L, schema)
      .collect().map(_.getString(0)).toSet === Set("h0", "g0"))
    val (empty, emptyJobs) = jobsOf(sources.SegmentedStore.priorBatches(
      spark, tmpDir("graft-prior-absent") + "/ledger", 0L, schema))
    assert(emptyJobs === 0 && empty.columns.toSeq === Seq("text_md5", "src_batch"))
    assert(empty.isEmpty)
  }

  test("index store: a _meta half-swapped by a crash is recovered by the next fold") {
    val docs = sources.Tables.documents(spark, sfDir)
    val path = tmpDir("graft-metacrash") + "/index"
    Seq(0L, 1L).foreach { seg =>
      assert(IndexStore.saveSegment(
        Index.invertedIndexOf(docs.filter(col("doc_id") % 2 === seg)), path, seg, nBuckets = 8))
    }
    IndexStore.saveMeta(docs.select("doc_id", "lang", "source"), path)
    def hits(): Seq[Long] = operators.Query.searchIndex(spark, path, "lang:en AND spark", nBuckets = 8)
      .collect().map(_.getLong(0)).sorted.toSeq
    val before = hits()
    assert(before.nonEmpty)
    // the state a crash between the side-table swap's two renames leaves
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path, "_meta"),
      new org.apache.hadoop.fs.Path(path, "_meta.backup")))
    IndexStore.compactSegments(spark, path)
    assert(IndexStore.segmentIds(spark, path) === Seq(1L))
    assert(hits() === before)
  }

  test("parquet footers: driver-resolved schemas equal Spark's inference; a data-less read fails loudly") {
    import spark.implicits._
    import sources.ParquetFooters
    val path = tmpDir("graft-footers") + "/index"
    assert(IndexStore.saveSegment(Index.invertedIndexOf(wideDocs(0L to 3L)), path, 0L))
    assert(IndexStore.saveSegment(Index.invertedIndexOf(wideDocs(Seq(1L), shift = 2)), path, 1L))
    sources.Tombstones.append(spark, path, Seq(1L), key = "vec_id")
    assert(IndexStore.deleteBatch(Seq(2L).toDF("doc_id"), path, 0L))
    IndexStore.saveMeta(Seq((0L, "en", "web")).toDF("doc_id", "lang", "source"), path)
    IndexStore.saveFuzzy(spark, path)
    val segs = Seq(s"$path/seg=0", s"$path/seg=1")
    Seq(segs, segs.map(_ + "/_docs"),
        Seq(s"$path/_meta"), Seq(s"$path/_fuzzy")).foreach { ps =>
      val want = spark.read.option("basePath", path).parquet(ps: _*)
      val got = ParquetFooters.read(spark, ps, options = Map("basePath" -> path))
      assert(got.schema === want.schema, ps.mkString(","))
      assert(got.collect().map(_.toString).sorted === want.collect().map(_.toString).sorted)
    }
    // the tombstone tree merges every footer: both key columns surface
    // (in file order, which neither listing fixes)
    val tombs = s"$path/_tombstones"
    val merged = ParquetFooters.read(spark, Seq(tombs), mergeSchema = true,
      options = Map("recursiveFileLookup" -> "true"))
    assert(merged.schema.fields.sortBy(_.name).toSeq === spark.read
      .option("recursiveFileLookup", "true").option("mergeSchema", "true").parquet(tombs)
      .schema.fields.sortBy(_.name).toSeq)
    assert(merged.columns.toSet === Set("vec_id", "doc_id"))
    // the table layer, TIMESTAMP(NANOS) events included
    sources.Tables.all.foreach { t =>
      assert(sources.Tables.load(spark, sfDir, t).schema ===
        spark.read.parquet(s"$sfDir/$t.parquet").schema, t)
    }
    val empty = tmpDir("graft-footers-empty")
    Files.createDirectories(java.nio.file.Paths.get(empty, "_docs"))
    intercept[org.apache.spark.sql.AnalysisException](ParquetFooters.read(spark, Seq(empty)))
  }
}
