package graft

import java.sql.Timestamp

import graft.streaming.Stream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimitedTests}
import org.scalatest.time.{Seconds, Span}

/** Structured Streaming specs (SURVEY §2.G) over MemoryStream.
  *
  * Every test runs under a 90 s wall budget (ThreadSignaler interrupts
  * a blocked `processAllAvailable`), so a hung stream surfaces as a
  * named test FAILURE instead of a silent multi-minute stall; the
  * suite prints its total wall time on completion.
  */
class StreamingSpec extends SparkSpec with TimeLimitedTests {

  val timeLimit: Span = Span(90, Seconds)
  override val defaultTestSignaler: Signaler = ThreadSignaler

  private val suiteStartNanos = System.nanoTime()

  override def afterAll(): Unit = {
    println(f"[StreamingSpec] suite wall time: ${(System.nanoTime() - suiteStartNanos) / 1e9}%.1f s (90 s/test budget)")
    super.afterAll()
  }

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  test("stream_tumbling: watermarked hourly counts per event type") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = Stream.tumblingCounts(in.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData((ts(10), "click"), (ts(20), "click"), (ts(70), "view"))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .orderBy("hour_start", "event_type")
        .collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2)))
      assert(rows.toSeq === Seq((0L, "click", 2L), (60L, "view", 1L)))
    } finally q.stop()
  }

  test("stream_sessionize_timeout: idle session closes when the watermark passes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Stream.Ev]
    val q = Stream.sessionizeWithTimeout(in.toDS())
      .writeStream.format("memory").queryName("timeout_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // first event off t=0: a row at exactly the initial watermark is
      // discarded as late by the stateful operator
      in.addData(Stream.Ev(1L, ts(5), "click"), Stream.Ev(1L, ts(10), "view"))
      q.processAllAvailable()
      assert(spark.table("timeout_sessions").count() === 0) // still open
      // another USER's far-future event advances the watermark past
      // user 1's gap deadline (10 + 30 min) -> timeout fires
      in.addData(Stream.Ev(2L, ts(600), "click"))
      q.processAllAvailable()
      in.addData(Stream.Ev(2L, ts(601), "click")) // trigger a batch that processes timeouts
      q.processAllAvailable()
      val s = spark.table("timeout_sessions")
        .filter(org.apache.spark.sql.functions.col("user_id") === 1L).collect()
      assert(s.length === 1)
      assert(s(0).getLong(1) === 2L)                   // n_events
      assert(s(0).getLong(2) === 5L * 60L * 1000000L)  // start_us
      assert(s(0).getLong(3) === 10L * 60L * 1000000L) // end_us
    } finally q.stop()
  }

  test("stream_attribution: out-of-order event re-credits the first touch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Stream.EvA]
    val q = Stream.attributionStream(in.toDS())
      .writeStream.format("memory").queryName("attr_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // session opens crediting "view"...
      in.addData(Stream.EvA(1L, ts(10), "view", 2.0),
        Stream.EvA(1L, ts(12), "purchase", 5.0))
      q.processAllAvailable()
      // ...then an out-of-order (in-watermark) earlier "click" arrives:
      // the first touch must move to it
      in.addData(Stream.EvA(1L, ts(8), "click", 1.0))
      q.processAllAvailable()
      // far-future other-user event pushes the watermark past the gap
      in.addData(Stream.EvA(2L, ts(600), "view", 0.0))
      q.processAllAvailable()
      in.addData(Stream.EvA(2L, ts(601), "view", 0.0)) // batch that fires timeouts
      q.processAllAvailable()
      val s = spark.table("attr_sessions")
        .filter(org.apache.spark.sql.functions.col("user_id") === 1L).collect()
      assert(s.length === 1)
      assert(s(0).getString(1) === "click")            // touch_type re-credited
      assert(s(0).getLong(2) === 3L)                   // n_events
      assert(s(0).getDouble(3) === 8.0)                // sess_value
      assert(s(0).getLong(4) === 8L * 60L * 1000000L)  // start_us lowered
    } finally q.stop()
  }

  test("stream_kcenter: bounded centers, monotone radius, covered corpus") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    def dist(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      1.0 - dot / (na * nb)
    }

    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
      .collect()
      .map(r => Stream.VecIn(r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val k = 8
    val in = MemoryStream[Stream.VecIn]
    val q = Stream.kcenterStream(in.toDS(), k)
      .writeStream.format("memory").queryName("kc_snaps")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = vecs.splitAt(vecs.length / 2)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      val snaps = spark.table("kc_snaps")
        .orderBy("n_seen").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getSeq[Long](3)))
      assert(snaps.length === 2)
      assert(snaps.last._1 === vecs.length.toLong)
      // bounded state: never more than k centers; radius only grows
      assert(snaps.forall(_._2 <= k))
      assert(snaps.map(_._3).sliding(2).forall(p => p(0) <= p(1) + 1e-12))
      // the doubling invariant: every point sits within 4r of a final
      // center (2r for direct rejection, +2r of merge slack)
      val byId = vecs.map(v => v.vec_id -> v.embedding).toMap
      val centers = snaps.last._4.map(byId)
      val rFinal = snaps.last._3
      val coverage = vecs.map(v => centers.map(c => dist(v.embedding, c)).min).max
      assert(rFinal > 0 && coverage <= 4 * rFinal + 1e-9)
    } finally q.stop()
  }

  test("stream_ohlc: hourly bars with time-ordered open/close") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = Stream.ohlcBars(in.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("ohlc")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData((ts(10), "click", 5.0), (ts(20), "click", 9.0),
        (ts(30), "click", 2.0), (ts(70), "view", 3.0))
      q.processAllAvailable()
      // a later batch moves click's close (40min > 30min) but not open
      in.addData((ts(40), "click", 7.0))
      q.processAllAvailable()
      val bars = spark.table("ohlc").orderBy("hour_start", "event_type").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      assert(bars.toSeq === Seq(
        (0L, "click", 4L, 5.0, 9.0, 2.0, 7.0),
        (60L, "view", 1L, 3.0, 3.0, 3.0, 3.0)))
    } finally q.stop()
  }

  test("stream_throttle: greedy debounce measures from the last EMITTED event") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Stream.Ev]
    val q = Stream.throttle(in.toDS())
      .writeStream.format("memory").queryName("throttled")
      .outputMode(OutputMode.Append()).start()
    def emitted(): Seq[Long] = spark.table("throttled")
      .filter(org.apache.spark.sql.functions.col("user_id") === 1L &&
        org.apache.spark.sql.functions.col("event_type") === "view")
      .collect().map(_.getLong(2) / 60000000L).sorted.toSeq
    try {
      // 5 kept (first), 7 suppressed (2 min after kept 5), 16 kept —
      // 11 min after KEPT 5; the gap rule would suppress it (9 min
      // after its predecessor 7), so this asserts greedy semantics
      in.addData(Stream.Ev(1L, ts(5), "view"), Stream.Ev(1L, ts(7), "view"),
        Stream.Ev(1L, ts(16), "view"))
      q.processAllAvailable()
      assert(emitted() === Seq(5L, 16L))
      // cross-batch state: 25 is 9 min after kept 16 -> suppressed;
      // 27 is 11 min after -> kept. Different key throttles separately.
      in.addData(Stream.Ev(1L, ts(25), "view"), Stream.Ev(1L, ts(27), "view"),
        Stream.Ev(1L, ts(27), "click"))
      q.processAllAvailable()
      assert(emitted() === Seq(5L, 16L, 27L))
      assert(spark.table("throttled")
        .filter(org.apache.spark.sql.functions.col("event_type") === "click")
        .count() === 1L)
    } finally q.stop()
  }

  test("stream_dedup: duplicate text within the watermark is dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = Stream.dedupStream(in.toDF().toDF("ts", "text"))
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(0), "alpha"), (ts(1), "alpha"), (ts(2), "beta"))
      q.processAllAvailable()
      in.addData((ts(3), "alpha"), (ts(4), "gamma")) // cross-batch dup
      q.processAllAvailable()
      val texts = spark.table("deduped").select("text")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(texts === Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("stream_join: events pick up orders within the preceding hour") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ev = MemoryStream[(Long, Timestamp)]
    val od = MemoryStream[(Long, Timestamp, Long)]
    val q = Stream.enrichWithOrders(
        ev.toDF().toDF("user_id", "ts"),
        od.toDF().toDF("o_custkey", "ots", "o_orderkey"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      od.addData((1L, ts(10), 100L), (1L, ts(200), 200L), (2L, ts(10), 300L))
      ev.addData((1L, ts(30)))   // order 100 is 20 min earlier -> joins
      ev.addData((1L, ts(100)))  // 90 min after order 100 -> outside window
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      assert(rows === Seq((1L, 100L)))
    } finally q.stop()
  }

  test("stream_index: document stream keeps the saved index fresh across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft-stream-idx").toString + "/index"
    val in = MemoryStream[(Long, String)]
    val q = Stream.indexMaintenance(in.toDF().toDF("doc_id", "text"), path, nBuckets = 4)
      .start()
    try {
      in.addData((0L, "x y"), (1L, "y z"))
      q.processAllAvailable()
      assert(graft.sources.IndexStore.lookup(spark, path, "z", nBuckets = 4).count() === 1)
      // batch 2: doc 1 re-crawled (z -> q), doc 2 new
      in.addData((1L, "y q"), (2L, "x"))
      q.processAllAvailable()
      val idx = graft.sources.IndexStore.load(spark, path)
        .select("term", "doc_id", "tf").orderBy("term", "doc_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(idx === Seq(
        ("q", 1L, 1L), ("x", 0L, 1L), ("x", 2L, 1L),
        ("y", 0L, 1L), ("y", 1L, 1L)))
      // doc 1's old "z" posting is gone after the re-crawl merge
      assert(graft.sources.IndexStore.lookup(spark, path, "z", nBuckets = 4).count() === 0)
    } finally q.stop()
  }

  test("stream_takedown: doc_id stream tombstones serving, replays exactly-once, folds at compactEvery") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-takedown").toString
    val path = s"$base/index"
    val docs = Seq((0L, "spark join fast"), (1L, "spark join slow"),
      (2L, "other words here"), (3L, "spark alone")).toDF("doc_id", "text")
    graft.sources.IndexStore.save(
      graft.operators.Index.invertedIndexOf(docs), path, nBuckets = 4)
    val in = MemoryStream[Long]
    val q = Stream.takedownMaintenance(in.toDF().toDF("doc_id"), path,
      compactEvery = 3).start()
    try {
      in.addData(0L)
      q.processAllAvailable()
      // the takedown is live for term AND ranked serving, no rewrite
      assert(graft.sources.IndexStore.lookup(spark, path, "spark", nBuckets = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
      assert(graft.operators.Query
        .searchRankedIndex(spark, path, "spark OR join", k = 10, nBuckets = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
      assert(graft.sources.IndexStore.tombstoneBatchCount(spark, path) === 1)
      // planning-time bucket pruning survives the BATCH-KEYED
      // tombstone anti-join (the plain-append twin is SourcesSpec's)
      assert(Explain.prunes(graft.sources.IndexStore.lookup(spark, path, "spark", nBuckets = 4),
        Explain.TermBucket))
      // a REPLAYED batch overwrites its own landing: same dir count,
      // same file count, same accumulated set
      def tombFiles(): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(s"$path/_tombstones"))
      }
      val filesBefore = tombFiles()
      graft.sources.IndexStore.deleteBatch(
        Seq(0L).toDF("doc_id"), path, srcBatch = 0L)
      assert(tombFiles() === filesBefore)
      assert(graft.sources.IndexStore.tombstoneBatchCount(spark, path) === 1)
      // an empty takedown tick lands nothing
      graft.sources.IndexStore.deleteBatch(
        Seq.empty[Long].toDF("doc_id"), path, srcBatch = 99L)
      assert(graft.sources.IndexStore.tombstoneBatchCount(spark, path) === 1)
      // two more batches reach compactEvery=3: the fold drops the
      // postings for real on this PLAIN (never-segmented) store — the
      // r13 compactSegments generalization — and rewrites the manifest
      in.addData(2L)
      q.processAllAvailable()
      in.addData(1L)
      q.processAllAvailable()
      assert(graft.sources.IndexStore.tombstoneBatchCount(spark, path) === 0)
      assert(!new java.io.File(s"$path/_tombstones").exists())
      assert(graft.sources.IndexStore.lookup(spark, path, "spark", nBuckets = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(3L))
      assert(graft.sources.IndexStore.load(spark, path)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet === Set(3L))
      // the folded root's manifest counts the survivor alone
      assert(graft.sources.IndexStore.open(spark, path, nBuckets = 4).corpus._1 === 1.0)
      // the ranked path still serves off the folded store
      assert(graft.operators.Query
        .searchRankedIndex(spark, path, "spark", k = 10, nBuckets = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(3L))
    } finally q.stop()
  }

  test("stream_takedown: a landing below the applied horizon fails loudly; a file-less tombstone tree is tolerated") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-takedown-hzn").toString
    val path = s"$base/index"
    val docs = Seq((0L, "a b"), (1L, "b c"), (2L, "c d")).toDF("doc_id", "text")
    graft.sources.IndexStore.save(
      graft.operators.Index.invertedIndexOf(docs), path, nBuckets = 4)
    // batches 0 and 3 land; horizon advances to 3
    assert(graft.sources.IndexStore.deleteBatch(Seq(0L).toDF("doc_id"), path, 0L))
    assert(graft.sources.IndexStore.deleteBatch(Seq(1L).toDF("doc_id"), path, 3L))
    assert(graft.sources.IndexStore.takedownHorizon(spark, path) === 3L)
    // a replay of the horizon batch is legitimate (overwrites itself)
    assert(graft.sources.IndexStore.deleteBatch(Seq(1L).toDF("doc_id"), path, 3L))
    // a FRESH-checkpoint restart re-feeds batch 0: overwriting
    // src_batch=0 would un-delete doc 0 — must fail loudly instead
    val e = intercept[IllegalArgumentException](
      graft.sources.IndexStore.deleteBatch(Seq(2L).toDF("doc_id"), path, 0L))
    assert(e.getMessage.contains("applied horizon"))
    assert(graft.sources.IndexStore.load(spark, path)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet === Set(2L))
    // a crash between dir creation and file commit leaves a file-less
    // tombstone tree: readers must treat it as "no tombstones", not
    // throw "Unable to infer schema" on every load until hand-repair
    val bare = s"$base/index2"
    graft.sources.IndexStore.save(
      graft.operators.Index.invertedIndexOf(docs), bare, nBuckets = 4)
    new java.io.File(s"$bare/_tombstones/src_batch=7").mkdirs()
    assert(graft.sources.IndexStore.load(spark, bare)
      .select("doc_id").distinct().count() === 3L)
    assert(graft.sources.IndexStore.lookup(spark, bare, "b", nBuckets = 4).count() === 2L)
    // ...and the fold trigger sees no pending work in the empty tree
    graft.sources.IndexStore.compactSegments(spark, bare)
    assert(new java.io.File(s"$bare/_tombstones").exists()) // untouched no-op
  }

  test("stream_takedown: one takedown vanishes from loadLang, knnServe and hybridServe, across re-open and the folds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-takedown-all").toString
    val (idxP, corP, centP, storeP) =
      (s"$base/index", s"$base/corpus", s"$base/cent", s"$base/store")
    val docs = Seq(
      (100L, "spark join spark", "en", "s0"),
      (101L, "spark filter", "en", "s0"),
      (102L, "sort merge", "de", "s1")).toDF("doc_id", "text", "lang", "source")
    graft.sources.CorpusStore.save(docs, corP)
    graft.sources.IndexStore.save(
      graft.operators.Index.invertedIndexOf(docs.select("doc_id", "text")),
      idxP, nBuckets = 4)
    graft.operators.Similarity.saveCentroids(
      Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding"),
      centP)
    val vecs = MemoryStream[(Long, Array[Float])]
    val qi = Stream.embedIndexMaintenance(
      vecs.toDF().toDF("vec_id", "embedding"), centP, storeP).start()
    try {
      vecs.addData((100L, Array(0.9f, 0.1f)), (101L, Array(0.8f, 0.3f)),
        (102L, Array(0.1f, 0.9f)))
      qi.processAllAvailable()
    } finally qi.stop()
    def knnIds(outDir: String): Set[Long] = {
      val q = MemoryStream[(Long, Array[Float])]
      val s = Stream.knnServe(q.toDF().toDF("vec_id", "embedding"),
        centP, storeP, outDir, k = 3).start()
      try {
        q.addData((9000L, Array(1f, 0.05f)))
        s.processAllAvailable()
      } finally s.stop()
      spark.read.parquet(s"$outDir/batch=0")
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    def hybridIds(outDir: String): Set[Long] = {
      val q = MemoryStream[(Long, String, Array[Float])]
      val s = Stream.hybridServe(q.toDF().toDF("query_id", "term", "embedding"),
        idxP, centP, storeP, outDir, k = 3, nBuckets = 4).start()
      try {
        q.addData((5000L, "spark", Array(1f, 0.05f)))
        s.processAllAvailable()
      } finally s.stop()
      spark.read.parquet(s"$outDir/batch=0")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(knnIds(s"$base/knn0") === Set(100L, 101L)) // bucket-0 neighbors
    assert(hybridIds(s"$base/hyb0") === Set(100L, 101L))
    // ONE takedown loop drives all three stores
    val in = MemoryStream[Long]
    val td = Stream.takedownMaintenance(in.toDF().toDF("doc_id"), idxP,
      compactEvery = 3, corpusPath = Some(corP), embedPath = Some(storeP)).start()
    try {
      in.addData(100L)
      td.processAllAvailable()
      // live at the NEXT read in every store, no rewrite anywhere
      assert(graft.sources.CorpusStore.loadLang(spark, corP, "en")
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(101L))
      assert(graft.sources.IndexStore.lookup(spark, idxP, "spark", nBuckets = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(101L))
      assert(knnIds(s"$base/knn1") === Set(101L))
      assert(hybridIds(s"$base/hyb1") === Set(101L))
      // two more batches reach compactEvery=3: EVERY store folds — the
      // deleted content leaves disk and the anti-join lists reset
      in.addData(102L)
      td.processAllAvailable()
      in.addData(999L) // id unknown to any store: still a landing
      td.processAllAvailable()
      assert(!new java.io.File(s"$corP/_tombstones").exists())
      assert(!new java.io.File(s"$idxP/_tombstones").exists())
      assert(!new java.io.File(s"$storeP/_tombstones").exists())
      // raw (reader-bypass) content checks: the folds purged the rows
      assert(spark.read.parquet(corP).select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(101L))
      assert(Stream.loadEmbedStore(spark, storeP).select("vec_id")
        .collect().map(_.getLong(0)).toSet === Set(101L))
      // re-open: fresh readers over the folded stores serve the same
      assert(graft.sources.CorpusStore.loadLang(spark, corP, "en")
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(101L))
      assert(graft.sources.CorpusStore.loadLang(spark, corP, "de").count() === 0L)
      assert(knnIds(s"$base/knn2") === Set(101L))
      assert(hybridIds(s"$base/hyb2") === Set(101L))
    } finally td.stop()
  }

  test("stream_takedown: fold keeps a one-segment store segmented") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-takedown-seg").toString
    val path = s"$base/index"
    val docs = Seq((0L, "a b"), (1L, "b c"), (2L, "c d")).toDF("doc_id", "text")
    graft.sources.IndexStore.saveSegment(
      graft.operators.Index.invertedIndexOf(docs), path, segId = 0L, nBuckets = 4)
    graft.sources.IndexStore.delete(spark, path, Seq(1L))
    // one segment + tombstones: the generalized guard folds instead of
    // silently returning (the old `< 2` skip left deletes unfolded
    // forever on a compacted store)
    graft.sources.IndexStore.compactSegments(spark, path)
    assert(!new java.io.File(s"$path/_tombstones").exists())
    assert(graft.sources.IndexStore.segmentIds(spark, path).nonEmpty) // layout preserved
    assert(graft.sources.IndexStore.load(spark, path)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet === Set(0L, 2L))
  }

  test("stream_embed_index: embedding stream keeps the IVF store fresh across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-embed-idx").toString
    val (centPath, storePath) = (s"$base/centroids", s"$base/store")
    // two axis-aligned centroids (vec_id < NCentroids are centroids)
    graft.operators.Similarity.saveCentroids(
      Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding"),
      centPath)
    val in = MemoryStream[(Long, Array[Float])]
    val q = Stream.embedIndexMaintenance(
      in.toDF().toDF("vec_id", "embedding"), centPath, storePath).start()
    try {
      in.addData((100L, Array(0.9f, 0.1f)), (101L, Array(0.1f, 0.8f)))
      q.processAllAvailable()
      val s1 = Stream.loadEmbedStore(spark, storePath)
        .select(col("vec_id"), col("bucket").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(s1 === Map(100L -> 0L, 101L -> 1L))
      // batch 2: vec 100 re-embedded into bucket 1, vec 102 new in bucket 0
      in.addData((100L, Array(0.05f, 0.9f)), (102L, Array(1f, 0.2f)))
      q.processAllAvailable()
      val s2 = Stream.loadEmbedStore(spark, storePath)
        .select(col("vec_id"), col("bucket").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(s2 === Map(100L -> 1L, 101L -> 1L, 102L -> 0L)) // old 100→0 row gone
      // bucket-partitioned layout: a bucket read prunes directories
      assert(Explain.prunes(spark.read.parquet(storePath).filter(col("bucket") === 0L),
        "bucket"))
      // ...and the pruning survives the segment RESOLVER on a held
      // handle: after its first query the dead-key set is held rows, so
      // every store scan is bucket-pruned. A one-query read still scans
      // every bucket's vec_id to resolve versions, since a re-embedded
      // vector can move buckets
      sources.Tombstones.append(spark, storePath, Seq(101L), key = "vec_id")
      assert(!Explain.prunes(Stream.loadEmbedStore(spark, storePath)
        .filter(col("bucket") === 0L), "bucket"))
      val held = Stream.openEmbedStore(spark, storePath, centPath)
      try {
        val probe = Seq((1000L, Array(1f, 0.05f))).toDF("vec_id", "embedding")
        assert(Stream.knnServeOn(held, probe, k = 2).collect().map(_.getLong(2)).toSeq ===
          Seq(102L))
        assert(Explain.prunes(Stream.knnServeOn(held, probe, k = 2), "bucket"))
      } finally held.release()
    } finally q.stop()
  }

  test("stream_embed_index: a takedown in a multi-segment store drops every version of the vector") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-embed-td").toString
    val (centPath, storePath) = (s"$base/centroids", s"$base/store")
    graft.operators.Similarity.saveCentroids(
      Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding"),
      centPath)
    val in = MemoryStream[(Long, Array[Float])]
    val q = Stream.embedIndexMaintenance(
      in.toDF().toDF("vec_id", "embedding"), centPath, storePath).start()
    try {
      in.addData((100L, Array(0.9f, 0.1f)), (101L, Array(0.1f, 0.8f)))
      q.processAllAvailable()
      // vec 100 re-embedded: two versions, in two segments
      in.addData((100L, Array(0.05f, 0.9f)), (102L, Array(1f, 0.2f)))
      q.processAllAvailable()
    } finally q.stop()
    def ids(): Set[Long] =
      Stream.loadEmbedStore(spark, storePath).select("vec_id").as[Long].collect().toSet
    assert(ids() === Set(100L, 101L, 102L))
    sources.Tombstones.append(spark, storePath, Seq(100L, 102L), key = "vec_id")
    assert(ids() === Set(101L), "a takedown must supersede every version of a vector")
    Stream.compactEmbedStore(spark, storePath)
    assert(!new java.io.File(s"$storePath/_tombstones").exists())
    assert(spark.read.parquet(storePath).select("vec_id").as[Long].collect().toSet === Set(101L))
  }

  test("stream_embed_index: a fold whose every vector is taken down keeps the store readable as empty") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-embed-foldempty").toString
    val (centPath, storePath) = (s"$base/centroids", s"$base/store")
    graft.operators.Similarity.saveCentroids(
      Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding"),
      centPath)
    def ids(): Set[Long] =
      Stream.loadEmbedStore(spark, storePath).select("vec_id").as[Long].collect().toSet
    val in = MemoryStream[(Long, Array[Float])]
    val q = Stream.embedIndexMaintenance(
      in.toDF().toDF("vec_id", "embedding"), centPath, storePath).start()
    try {
      in.addData((100L, Array(0.9f, 0.1f)), (101L, Array(0.1f, 0.8f)))
      q.processAllAvailable()
      in.addData((102L, Array(1f, 0.2f)))
      q.processAllAvailable()
      sources.Tombstones.append(spark, storePath, Seq(100L, 101L, 102L), key = "vec_id")
      // the bucket-partitioned rewrite of an empty content emits no data
      // file: the fold must not swap a data-less segment in
      Stream.compactEmbedStore(spark, storePath)
      assert(ids() === Set.empty[Long])
      // the store still takes landings, and the next fold reads them
      in.addData((103L, Array(0.2f, 0.9f)))
      q.processAllAvailable()
      assert(ids() === Set(103L))
    } finally q.stop()
    Stream.compactEmbedStore(spark, storePath)
    assert(!new java.io.File(s"$storePath/_tombstones").exists())
    assert(ids() === Set(103L))
    assert(spark.read.parquet(storePath).select("vec_id").as[Long].collect().toSet === Set(103L))
  }

  test("stream_knn: query batches served from the saved bucket-pruned store") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-stream-knn").toString
    val (centPath, storePath, outPath) = (s"$base/centroids", s"$base/store", s"$base/out")
    graft.operators.Similarity.saveCentroids(
      Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding"),
      centPath)
    // store: two vectors per bucket
    val idx = MemoryStream[(Long, Array[Float])]
    val qi = Stream.embedIndexMaintenance(
      idx.toDF().toDF("vec_id", "embedding"), centPath, storePath).start()
    try {
      idx.addData((100L, Array(0.9f, 0.1f)), (101L, Array(0.8f, 0.3f)),
        (102L, Array(0.1f, 0.9f)), (103L, Array(0.2f, 0.8f)))
      qi.processAllAvailable()
    } finally qi.stop()
    val qs = MemoryStream[(Long, Array[Float])]
    val q = Stream.knnServe(qs.toDF().toDF("vec_id", "embedding"),
      centPath, storePath, outPath, k = 2).start()
    try {
      qs.addData((1000L, Array(1f, 0.05f))) // bucket 0: expect 100 then 101
      q.processAllAvailable()
      val r = spark.read.parquet(s"$outPath/batch=0")
        .orderBy("query_id", "rk").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      assert(r.toSeq === Seq((1000L, 1L, 100L), (1000L, 2L, 101L)))
      // bucket-1 vectors (102/103) never appear: the store read pruned to bucket 0
      assert(!r.map(_._3).toSet.exists(Set(102L, 103L)))
    } finally q.stop()
  }

  test("knnServeOn: prepared dense session matches the streamed batch; snapshot needs re-open") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-knn-open").toString
    val (centPath, storePath) = (s"$base/centroids", s"$base/store")
    graft.operators.Similarity.saveCentroids(
      Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding"),
      centPath)
    val idx = MemoryStream[(Long, Array[Float])]
    val qi = Stream.embedIndexMaintenance(
      idx.toDF().toDF("vec_id", "embedding"), centPath, storePath).start()
    try {
      idx.addData((100L, Array(0.9f, 0.1f)), (101L, Array(0.8f, 0.3f)),
        (102L, Array(0.1f, 0.9f)), (103L, Array(0.2f, 0.8f)))
      qi.processAllAvailable()
    } finally qi.stop()
    val queries = Seq((1000L, Array(1f, 0.05f)), (1001L, Array(0.1f, 1f)))
    // the streamed reference batch over the same store state
    val qs = MemoryStream[(Long, Array[Float])]
    val q = Stream.knnServe(qs.toDF().toDF("vec_id", "embedding"),
      centPath, storePath, s"$base/out", k = 2).start()
    try { qs.addData(queries: _*); q.processAllAvailable() } finally q.stop()
    val want = spark.read.parquet(s"$base/out/batch=0")
      .orderBy("query_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val oes = Stream.openEmbedStore(spark, storePath, centPath)
    def served(o: Stream.OpenEmbedStore): Seq[(Long, Long, Long, Double)] =
      Stream.knnServeOn(o, queries.toDF("vec_id", "embedding"), k = 2)
        .orderBy("query_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(served(oes) === want && want.nonEmpty)
    // the store scan is LITERALLY partition-pruned to the probed
    // buckets at planning time (not left to runtime DPP, whose cost
    // heuristics can elide the pruning into a full store scan)
    val probe = Stream.knnServeOn(oes, queries.take(1).toDF("vec_id", "embedding"), k = 2)
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(Explain.prunes(probe, "bucket") && !probePlan.contains("dynamicpruning"),
      s"store scan not literally bucket-pruned:\n$probePlan")
    // snapshot semantics, the handle family's contract: a takedown
    // landed after open() is invisible through the held frames but
    // live on a re-open (and on the per-batch streaming path)
    sources.Tombstones.append(spark, storePath, Seq(100L), key = "vec_id")
    assert(served(oes) === want)
    val after = served(Stream.openEmbedStore(spark, storePath, centPath))
    assert(!after.map(_._3).contains(100L) && after.map(_._3).contains(101L))
  }

  test("hybridServeOn: prepared sparse+dense sessions match the streamed batch; snapshot per handle") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-hyb-open").toString
    val (idxP, centP, storeP) = (s"$base/index", s"$base/cent", s"$base/store")
    val docs = Seq((100L, "spark join spark"), (101L, "spark filter"),
      (102L, "sort merge")).toDF("doc_id", "text")
    graft.sources.IndexStore.save(
      graft.operators.Index.invertedIndexOf(docs), idxP, nBuckets = 4)
    graft.operators.Similarity.saveCentroids(
      Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding"),
      centP)
    val vecs = MemoryStream[(Long, Array[Float])]
    val qi = Stream.embedIndexMaintenance(
      vecs.toDF().toDF("vec_id", "embedding"), centP, storeP).start()
    try {
      vecs.addData((100L, Array(0.9f, 0.1f)), (101L, Array(0.8f, 0.3f)),
        (102L, Array(0.1f, 0.9f)))
      qi.processAllAvailable()
    } finally qi.stop()
    val hq = Seq((5000L, "spark", Array(1f, 0.05f)))
    val qs = MemoryStream[(Long, String, Array[Float])]
    val s = Stream.hybridServe(qs.toDF().toDF("query_id", "term", "embedding"),
      idxP, centP, storeP, s"$base/out", k = 3, nBuckets = 4).start()
    try { qs.addData(hq: _*); s.processAllAvailable() } finally s.stop()
    type Row6 = (Long, Long, Long, Long, Long, Double)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row6] =
      df.orderBy("query_id", "rk").collect().map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    val want = rows(spark.read.parquet(s"$base/out/batch=0"))
    val oi = graft.sources.IndexStore.open(spark, idxP, nBuckets = 4)
    val oes = Stream.openEmbedStore(spark, storeP, centP)
    def served(i: graft.sources.IndexStore.OpenIndex): Seq[Row6] =
      rows(Stream.hybridServeOn(i, oes,
        hq.toDF("query_id", "term", "embedding"), k = 3))
    assert(served(oi) === want && want.nonEmpty)
    assert(want.exists(r => r._3 == 100L && r._4 > 0L)) // 100 sparse-ranked
    // an index takedown after open: invisible through the held sparse
    // handle; after re-opening it, doc 100 keeps only its DENSE rank
    // (the embed handle was not re-opened — per-handle snapshots)
    graft.sources.IndexStore.delete(spark, idxP, Seq(100L))
    assert(served(oi) === want)
    val fresh = served(graft.sources.IndexStore.open(spark, idxP, nBuckets = 4))
    val d100 = fresh.filter(_._3 == 100L)
    assert(d100.nonEmpty && d100.forall(r => r._4 === 0L && r._5 > 0L))
  }

  test("stream_index: a mid-swap crash state is repaired by the next batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft-crash-idx").toString + "/index"
    val in1 = MemoryStream[(Long, String)]
    val q1 = Stream.indexMaintenance(in1.toDF().toDF("doc_id", "text"), path, nBuckets = 4)
      .start()
    try {
      in1.addData((0L, "x y"))
      q1.processAllAvailable()
    } finally q1.stop()
    // simulate a crash BETWEEN swapStore's two renames: base moved to
    // .backup, replacement never landed — the store is "gone"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".backup")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)))
    // next maintenance batch must first restore the backup, then merge
    val in2 = MemoryStream[(Long, String)]
    val q2 = Stream.indexMaintenance(in2.toDF().toDF("doc_id", "text"), path, nBuckets = 4)
      .start()
    try {
      in2.addData((1L, "y z"))
      q2.processAllAvailable()
    } finally q2.stop()
    val idx = graft.sources.IndexStore.load(spark, path)
      .select("term", "doc_id").orderBy("term", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // batch-1 postings survived the simulated crash; batch-2 merged in
    assert(idx === Seq(("x", 0L), ("y", 0L), ("y", 1L), ("z", 1L)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".backup")))
  }

  test("stream_quality_gate: batches route to clean and quarantine corpora") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-qgate").toString
    val (clean, quar) = (s"$base/clean", s"$base/quarantine")
    val in = MemoryStream[(Long, String)]
    val good = (1 to 8).map(i => s"the quick value$i moves a row of data$i fast")
      .mkString(" ") // 72 tokens, stopword ratio 1/3, TTR 23/72 > 0.3
    val q = Stream.qualityGate(in.toDF().toDF("doc_id", "text"), clean, quar).start()
    try {
      in.addData((0L, good), (1L, "too short"))
      q.processAllAvailable()
      val cleanIds = spark.read.parquet(clean).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(cleanIds === Seq(0L))
      val quarRows = spark.read.parquet(quar)
        .select("doc_id", "r_len", "keep").collect()
      assert(quarRows.map(_.getLong(0)).toSeq === Seq(1L))
      assert(quarRows.head.getLong(1) === 0L) // rejected by the length rule
      assert(quarRows.head.getLong(2) === 0L)
      // second batch lands in its own directory; first is untouched
      in.addData((2L, good))
      q.processAllAvailable()
      assert(spark.read.parquet(clean).select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(0L, 2L))
    } finally q.stop()
  }

  test("stream_importance_gate: docs route by saved-LM DSIR score; replay-safe") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-igate").toString
    // target domain talks about physics; the raw corpus mostly about cooking
    val corpus = (Seq.tabulate(6)(i =>
        (i.toLong, "quantum field theory energy particle wave", "src0")) ++
      Seq.tabulate(18)(i =>
        (100L + i, "recipe butter flour sugar oven whisk", "srcX")))
      .toDF("doc_id", "text", "source")
    graft.operators.Pipeline.saveDsirLm(corpus, s"$base/lm", targetSource = "src0")
    val llr = spark.read.parquet(s"$base/lm")
    val in = MemoryStream[(Long, String)]
    val q = Stream.importanceGate(in.toDF().toDF("doc_id", "text"),
      s"$base/lm", s"$base/keep", s"$base/drop").start()
    try {
      in.addData((1000L, "quantum energy wave particle"),
        (1001L, "butter sugar oven recipe"))
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$base/keep").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val dropped = spark.read.parquet(s"$base/drop").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(kept === Seq(1000L))
      assert(dropped === Seq(1001L))
      // the streamed verdicts equal the batch scorer's against the same LM
      val batchKeep = graft.operators.Pipeline.dsirScoreOf(
          Seq((1000L, "quantum energy wave particle"),
            (1001L, "butter sugar oven recipe")).toDF("doc_id", "text"), llr)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(batchKeep === Map(1000L -> 1L, 1001L -> 0L))
      // later batches land in their own directories; earlier untouched
      in.addData((1002L, "quantum quantum theory field"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$base/keep").select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1000L, 1002L))
    } finally q.stop()
  }

  test("stream_hybrid_serve: fused ranking from the two saved stores") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-hserve").toString
    val docs = Seq((100L, "spark join spark"), (101L, "spark filter"),
      (102L, "sort merge")).toDF("doc_id", "text")
    graft.sources.IndexStore.save(
      graft.operators.Index.invertedIndexOf(docs), s"$base/index", nBuckets = 4)
    graft.operators.Similarity.saveCentroids(
      Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding"),
      s"$base/cent")
    val idx = MemoryStream[(Long, Array[Float])]
    val qi = Stream.embedIndexMaintenance(
      idx.toDF().toDF("vec_id", "embedding"), s"$base/cent", s"$base/store").start()
    try {
      idx.addData((100L, Array(0.9f, 0.1f)), (101L, Array(0.8f, 0.3f)),
        (102L, Array(0.1f, 0.9f)))
      qi.processAllAvailable()
    } finally qi.stop()
    val qs = MemoryStream[(Long, String, Array[Float])]
    val q = Stream.hybridServe(qs.toDF().toDF("query_id", "term", "embedding"),
      s"$base/index", s"$base/cent", s"$base/store", s"$base/out",
      k = 2, nBuckets = 4).start()
    try {
      qs.addData((5000L, "spark", Array(1f, 0.05f)))
      q.processAllAvailable()
      val r = spark.read.parquet(s"$base/out/batch=0")
        .orderBy("rk").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3), x.getLong(4), x.getDouble(5)))
      // doc 100 tops both legs (tf=2, nearest vector); 102 matches neither
      assert(r.map(_._3).toSeq === Seq(100L, 101L))
      r.foreach { case (_, _, _, rs, rd, rrf) =>
        val want = (if (rs > 0) 1.0 / (60.0 + rs) else 0.0) +
          (if (rd > 0) 1.0 / (60.0 + rd) else 0.0)
        assert(math.abs(rrf - want) < 1e-6)
      }
      assert(r.head._4 === 1L && r.head._5 === 1L) // both legs rank doc 100 first
      // multi-term query: two (query_id, term) rows for ONE query — a doc
      // matching both terms must occupy one candidate slot (summed tf),
      // and the dense leg must rank each doc once, not once per term row.
      qs.addData((5001L, "spark", Array(1f, 0.05f)),
        (5001L, "join", Array(1f, 0.05f)))
      q.processAllAvailable()
      val r2 = spark.read.parquet(s"$base/out/batch=1")
        .orderBy("rk").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3), x.getLong(4), x.getDouble(5)))
      assert(r2.map(_._3).distinct.length === r2.length) // one slot per doc
      assert(r2.map(_._3).toSeq === Seq(100L, 101L)) // summed tf 2+1 beats 1
      assert(r2.head._4 === 1L && r2.head._5 === 1L)
    } finally q.stop()
  }

  test("stream_weighted_reservoir: store equals the batch draw over everything streamed") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-wres").toString
    val store = s"$base/reservoir"
    def doc(id: Long, n: Int) = (id, Seq.fill(n)(s"tok$id").mkString(" "))
    val b1 = Seq(doc(1, 5), doc(2, 50), doc(3, 2))
    val b2 = Seq(doc(4, 80), doc(5, 1))
    val in = MemoryStream[(Long, String)]
    val q = Stream.weightedReservoir(in.toDF().toDF("doc_id", "text"), store, k = 3).start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(spark.read.parquet(store).count() === 3)
      in.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.read.parquet(store)
        .select("doc_id", "n_tokens", "es_key")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = graft.operators.Pipeline.esKeysOf((b1 ++ b2).toDF("doc_id", "text"))
        .orderBy($"es_key".desc, $"doc_id").limit(3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === want)
    } finally q.stop()
  }

  test("stream_skyline: arrival-time Pareto emissions with cross-batch state") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Stream.SkyIn]
    val q = Stream.skylineStream(in.toDS())
      .writeStream.format("memory").queryName("skyline")
      .outputMode(OutputMode.Append()).start()
    def pt(id: Long, cents: Long, minutes: Long) = Stream.SkyIn(id, cents, ts(minutes))
    try {
      // batch 1: 1 enters; 2 (pricier, older) dominated; 3 (cheaper) enters
      in.addData(pt(1, 500, 100), pt(2, 600, 50), pt(3, 400, 60))
      q.processAllAvailable()
      assert(spark.table("skyline").select("id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
      // batch 2: state survives — 4 dominated by batch-1's point 1;
      // 5 (cheapest yet) enters even though batch 1 would dominate on date
      in.addData(pt(4, 550, 90), pt(5, 300, 10))
      q.processAllAvailable()
      assert(spark.table("skyline").select("id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 3L, 5L))
      // online semantics: an arrival dominating EVERYTHING still appends
      in.addData(pt(6, 100, 200))
      q.processAllAvailable()
      assert(spark.table("skyline").select("id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 3L, 5L, 6L))
    } finally q.stop()
  }

  test("stream_contamination: docs sharing train shingles are quarantined") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-cgate").toString
    val train = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    graft.operators.Pipeline.saveShingleSet(train, s"$base/shingles")
    val in = MemoryStream[(Long, String)]
    val q = Stream.contaminationGate(in.toDF().toDF("doc_id", "text"),
      s"$base/shingles", s"$base/quarantine").start()
    try {
      in.addData(
        (0L, "contains the quick brown fox verbatim"), // shares shingles
        (1L, "totally different words entirely here")) // shares none
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$base/quarantine")
        .select("doc_id", "n_shared_shingles").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.map(_._1).toSeq === Seq(0L))
      assert(rows.head._2 >= 1L) // "the quick brown" + "quick brown fox"
    } finally q.stop()
  }

  test("stream_reservoir: store holds the exact bottom-k sample of all ingested docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-rsvr").toString + "/sample"
    val in = MemoryStream[(Long, String)]
    val q = Stream.reservoirMaintenance(
      in.toDF().toDF("doc_id", "source"), store, k = 3).start()
    def expected(ids: Seq[(Long, String)]): Set[(String, Long)] = {
      val df = ids.toDF("doc_id", "source")
        .select(col("source"), col("doc_id"),
          md5(concat(lit("sample:"), col("doc_id").cast("string"))).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("h"), col("doc_id"))
      df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    }
    def stored(): Set[(String, Long)] = spark.read.parquet(store)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val b1 = (0L to 5L).map(i => (i, s"src${i % 2}"))
    val b2 = (6L to 11L).map(i => (i, s"src${i % 2}"))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(stored() === expected(b1))
      // merging batch 2 into the stored bottom-k equals the bottom-k of the union
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(stored() === expected(b1 ++ b2))
      assert(spark.read.parquet(store)
        .groupBy("source").count().collect().map(_.getLong(1)).forall(_ <= 3L))
    } finally q.stop()
  }

  test("stream_dedup_store: saved fingerprints dedup across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-dgate").toString
    val (store, out) = (s"$base/fp", s"$base/out")
    def landed(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val in = MemoryStream[(Long, String)]
    val q = Stream.dedupGate(in.toDF().toDF("doc_id", "text"), store, out).start()
    try {
      in.addData((0L, "alpha"), (1L, "alpha"), (2L, "beta")) // in-batch dup
      q.processAllAvailable()
      assert(landed() === Set(0L, 2L))
      in.addData((3L, "alpha"), (4L, "gamma")) // cross-batch dup vs the store
      q.processAllAvailable()
      assert(landed() === Set(0L, 2L, 4L))
      // store holds one row per distinct fingerprint, keyed by batch
      val fp = spark.read.parquet(store).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(fp.length === 3)
      assert(fp.map(_._2).sorted.toSeq === Seq(0L, 0L, 1L))
    } finally q.stop()
  }

  test("stream_neardup_store: saved simhash fingerprints catch near-dups across restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-ngate").toString
    val (store, out, ckpt) = (s"$base/fp", s"$base/out", s"$base/ckpt")
    def landed(): Set[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val q1 = Stream.neardupGate(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      // 1 is an exact (hamming-0) in-batch dup of 0
      in.addData((0L, "big data table scan fast"), (1L, "big data table scan fast"))
      q1.processAllAvailable()
      assert(landed() === Set(0L))
    } finally q1.stop()
    // restart: same source + checkpoint; 2 is a NEAR dup (not exact)
    // of doc 0 accepted before the restart — the saved store, not
    // executor state, must catch it
    val q2 = Stream.neardupGate(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((2L, "big data table scan slow"),
        (3L, "completely unrelated words entirely elsewhere"))
      q2.processAllAvailable()
      assert(landed() === Set(0L, 3L))
      // store: one fingerprint per ACCEPTED doc, keyed by source batch
      val fp = spark.read.parquet(store).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      assert(fp.map(_._1).toSet === Set(0L, 3L))
      assert(fp.map(_._2).sorted.toSeq === Seq(0L, 1L))
    } finally q2.stop()
  }

  test("stream_source_mix: cumulative mix shares survive restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-smix").toString
    val (store, out, ckpt) = (s"$base/ledger", s"$base/out", s"$base/ckpt")
    def mix(id: Long): Map[String, (Long, Long, Double)] =
      spark.read.parquet(s"$out/batch=$id").collect().map { r =>
        r.getAs[String]("source") ->
          ((r.getAs[Long]("batch_tokens"), r.getAs[Long]("cum_tokens"),
            r.getAs[Double]("cum_share")))
      }.toMap
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("doc_id", "source", "text")
    val q1 = Stream.sourceMixMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((0L, "web", "a b c"), (1L, "books", "d e"))
      q1.processAllAvailable()
      assert(mix(0L) === Map("web" -> ((3L, 3L, 0.6)), "books" -> ((2L, 2L, 0.4))))
      in.addData((2L, "books", "f g h i j"))
      q1.processAllAvailable()
      assert(mix(1L) === Map("web" -> ((0L, 3L, 0.3)), "books" -> ((5L, 7L, 0.7))))
    } finally q1.stop()
    // restart: the ledger, not executor state, carries the history
    val q2 = Stream.sourceMixMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((3L, "code", "k l m n o p q r s t"))
      q2.processAllAvailable()
      assert(mix(2L) === Map("web" -> ((0L, 3L, 0.15)),
        "books" -> ((0L, 7L, 0.35)), "code" -> ((10L, 10L, 0.5))))
    } finally q2.stop()
  }

  test("stream_nb_langid: prequential NB router learns across batches and restarts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-nbgate").toString
    val (store, out, ckpt) = (s"$base/ledger", s"$base/out", s"$base/ckpt")
    def preds(id: Long): Map[Long, (String, Option[String])] =
      spark.read.parquet(s"$out/batch=$id").collect().map { r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("lang"), Option(r.getAs[String]("pred_lang"))))
      }.toMap
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("doc_id", "lang", "text")
    val q1 = Stream.nbRouterGate(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      // batch 0: no model yet -> routed unscored, counts merge in
      in.addData((0L, "xx", "xa xb xa"), (1L, "yy", "ya yb"))
      q1.processAllAvailable()
      assert(preds(0L) === Map(0L -> (("xx", None)), 1L -> (("yy", None))))
      // batch 1: scored by the model trained on batch 0 alone
      in.addData((2L, "xx", "xa xb"), (3L, "yy", "yb ya yb"))
      q1.processAllAvailable()
      assert(preds(1L) === Map(
        2L -> (("xx", Some("xx"))), 3L -> (("yy", Some("yy")))))
    } finally q1.stop()
    // restart: the counts ledger, not executor state, is the model
    val q2 = Stream.nbRouterGate(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((4L, "yy", "ya ya"))
      q2.processAllAvailable()
      assert(preds(2L) === Map(4L -> (("yy", Some("yy")))))
    } finally q2.stop()
  }

  test("stream_pipeline: quality -> exact -> neardup funnel with per-stage counts across restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-pgate").toString
    val (md5s, fps, out, ckpt) =
      (s"$base/md5", s"$base/fp", s"$base/out", s"$base/ckpt")
    def cleanIds(): Set[Long] = spark.read.parquet(s"$out/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def funnel(id: Long): (Long, Long, Long, Long) = {
      val r = spark.read.parquet(s"$out/report/batch=$id").collect().head
      (r.getAs[Long]("n_in"), r.getAs[Long]("n_quality"),
        r.getAs[Long]("n_exact"), r.getAs[Long]("n_clean"))
    }
    def good(tag: String): String =
      (1 to 8).map(i => s"the quick ${tag}$i moves a row of data$i fast").mkString(" ")
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val q1 = Stream.pipelineGate(df, md5s, fps, out)
      .option("checkpointLocation", ckpt).start()
    try {
      // 0 lands; 1 dies at quality; 2 dies at the in-batch exact stage
      in.addData((0L, good("value")), (1L, "too short"), (2L, good("value")))
      q1.processAllAvailable()
      assert(cleanIds() === Set(0L))
      assert(funnel(0L) === ((3L, 2L, 1L, 1L)))
    } finally q1.stop()
    // restart: both stores, not executor state, carry the history
    val q2 = Stream.pipelineGate(df, md5s, fps, out)
      .option("checkpointLocation", ckpt).start()
    try {
      // 3 = exact dup of 0 (md5 store); 4 = near dup of 0 (fp store);
      // 5 = genuinely new and clean (different skeleton, not just tags)
      val fresh = (1 to 8)
        .map(i => s"many large stone$i holds the pile of rock$i still").mkString(" ")
      in.addData((3L, good("value")),
        (4L, good("value").replace("value1", "value9")),
        (5L, fresh))
      q2.processAllAvailable()
      assert(cleanIds() === Set(0L, 5L))
      assert(funnel(1L) === ((3L, 3L, 2L, 1L)))
    } finally q2.stop()
  }

  test("stream_heavy_hitters: cumulative CMS estimates survive restart in 256 cells") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-hh").toString
    val (store, out, ckpt) = (s"$base/sketch", s"$base/out", s"$base/ckpt")
    def report(id: Long): Map[String, (Long, Long)] =
      spark.read.parquet(s"$out/batch=$id").collect().map { r =>
        r.getAs[String]("term") ->
          ((r.getAs[Long]("batch_tf"), r.getAs[Long]("cms_est")))
      }.toMap
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val q1 = Stream.heavyHittersMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((0L, "alpha alpha alpha beta"), (1L, "beta gamma"))
      q1.processAllAvailable()
      assert(report(0L) === Map("alpha" -> ((3L, 3L)), "beta" -> ((2L, 2L)),
        "gamma" -> ((1L, 1L))))
      in.addData((2L, "alpha beta beta beta"))
      q1.processAllAvailable()
      // cumulative: alpha 3+1, beta 2+3 — ranked by the running sketch
      assert(report(1L) === Map("alpha" -> ((1L, 4L)), "beta" -> ((3L, 5L))))
    } finally q1.stop()
    // restart: the saved counters, not executor state, carry history
    val q2 = Stream.heavyHittersMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((3L, "alpha delta"))
      q2.processAllAvailable()
      assert(report(2L) === Map("alpha" -> ((1L, 5L)), "delta" -> ((1L, 1L))))
      // the ledger never exceeds d*w = 256 cells regardless of vocabulary
      assert(spark.read.parquet(store)
        .select("row", "bucket").distinct().count() <= 256L)
    } finally q2.stop()
  }

  test("stream_anomaly: spike day flagged against the ledger baseline across restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-anom").toString
    val (store, out, ckpt) = (s"$base/ledger", s"$base/out", s"$base/ckpt")
    def report(id: Long): Map[Long, (Long, Long, Long)] =
      spark.read.parquet(s"$out/batch=$id").collect().map { r =>
        r.getAs[Long]("day") ->
          ((r.getAs[Long]("batch_events"), r.getAs[Long]("cum_events"),
            r.getAs[Long]("is_anomaly")))
      }.toMap
    def dayTs(day: Long, k: Long): java.sql.Timestamp =
      new java.sql.Timestamp(day * 86400000L + k * 1000L)
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val df = in.toDF().toDF("user_id", "ts")
    val q1 = Stream.anomalyMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      // batch 0: five baseline days x 3 events — zero variance, no alerts
      in.addData((for (d <- 100L to 104L; k <- 0L until 3L) yield (d, dayTs(d, k))): _*)
      q1.processAllAvailable()
      assert(report(0L) === (100L to 104L).map(d => d -> ((3L, 3L, 0L))).toMap)
      // batch 1: day 105 spikes to 30 -> z = (30-7.5)/11.02... >= 2
      in.addData((for (k <- 0L until 30L) yield (105L, dayTs(105L, k))): _*)
      q1.processAllAvailable()
      assert(report(1L) === Map(105L -> ((30L, 30L, 1L))))
    } finally q1.stop()
    // restart: the ledger (incl. the spike) carries the history
    val q2 = Stream.anomalyMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((for (k <- 0L until 3L) yield (106L, dayTs(106L, k))): _*)
      q2.processAllAvailable()
      // a normal day against the post-spike baseline: no alert
      assert(report(2L) === Map(106L -> ((3L, 3L, 0L))))
      val ledger = spark.read.parquet(store).collect()
        .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_events"))).toMap
      assert(ledger === ((100L to 104L).map(_ -> 3L) ++
        Seq(105L -> 30L, 106L -> 3L)).toMap)
    } finally q2.stop()
  }

  test("stream_anomaly: the day ledger lands segments and folds at CompactEvery; the horizon survives the fold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-anomfold").toString
    val (store, out) = (s"$base/ledger", s"$base/out")
    val n = Stream.CompactEvery + 1
    // batch b adds 2 events to day 100 + b % 4
    def events(b: Int): Seq[(Long, java.sql.Timestamp)] = (0 until 2).map(k =>
      (b.toLong, new java.sql.Timestamp((100L + b % 4) * 86400000L + k * 1000L)))
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val df = in.toDF().toDF("user_id", "ts")
    val q = Stream.anomalyMonitor(df, store, out)
      .option("checkpointLocation", s"$base/ckpt1").start()
    try (0 until n).foreach { b => in.addData(events(b): _*); q.processAllAvailable() }
    finally q.stop()
    val last = spark.read.parquet(s"$out/batch=${n - 1}").collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("batch_events"), r.getAs[Long]("cum_events")))
    assert(last.toSeq === Seq((100L, 2L, 10L)))
    val perDay = spark.read.parquet(store).groupBy("day").sum("n_events").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDay === Map(100L -> 10L, 101L -> 8L, 102L -> 8L, 103L -> 8L))
    // batches 0..15 folded into seg=15 at the 16th landing; batch 16
    // landed above it, and the fold carried the max horizon marker
    assert(sources.SegmentedStore.horizon(spark, store) === (n - 1).toLong)
    assert(sources.SegmentedStore.listing(spark, store).segs === Seq(n - 2L, n - 1L))
    val in2 = MemoryStream[(Long, java.sql.Timestamp)]
    val q2 = Stream.anomalyMonitor(in2.toDF().toDF("user_id", "ts"), store, s"$base/out2")
      .option("checkpointLocation", s"$base/ckpt2").start()
    val ex = intercept[Throwable] {
      try { in2.addData(events(0): _*); q2.processAllAvailable() } finally q2.stop()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null).take(8)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("below the applied horizon")),
      s"expected the horizon failure, got: $msgs")
  }

  test("stream_vocab_drift: saved vocabulary flags new terms across restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-vdrift").toString
    val (store, out, ckpt) = (s"$base/vocab", s"$base/out", s"$base/ckpt")
    def report(id: Long): (Long, Long, Long, Long) = {
      val r = spark.read.parquet(s"$out/batch=$id").collect().head
      (r.getAs[Long]("n_batch_terms"), r.getAs[Long]("n_new_terms"),
        r.getAs[Long]("n_batch_tokens"), r.getAs[Long]("new_term_tokens"))
    }
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val q1 = Stream.vocabDriftGate(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((0L, "alpha beta alpha"), (1L, "beta gamma"))
      q1.processAllAvailable()
      // empty store: every term is new
      assert(report(0L) === ((3L, 3L, 5L, 5L)))
      in.addData((2L, "alpha delta"))
      q1.processAllAvailable()
      // delta is the only unseen term
      assert(report(1L) === ((2L, 1L, 2L, 1L)))
    } finally q1.stop()
    // restart: gamma was first seen before the restart — the saved
    // store, not executor state, must recognize it
    val q2 = Stream.vocabDriftGate(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((3L, "gamma gamma epsilon"))
      q2.processAllAvailable()
      assert(report(2L) === ((2L, 1L, 3L, 1L)))
      // store: one row per first sighting, keyed by source batch
      val rows = spark.read.parquet(store).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(rows === Map("alpha" -> 0L, "beta" -> 0L, "gamma" -> 0L,
        "delta" -> 1L, "epsilon" -> 2L))
    } finally q2.stop()
  }

  test("stream_semantic_store: saved vectors catch semantic dups across restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-sgate").toString
    val (centPath, store, out, ckpt) =
      (s"$base/centroids", s"$base/vecs", s"$base/out", s"$base/ckpt")
    graft.operators.Similarity.saveCentroids(
      Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding"),
      centPath)
    def landed(): Set[Long] = spark.read.parquet(out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val in = MemoryStream[(Long, Array[Float])]
    val df = in.toDF().toDF("vec_id", "embedding")
    val q1 = Stream.semdedupGate(df, centPath, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      // 101 is an in-batch semantic dup of 100 (same direction)
      in.addData((100L, Array(0.9f, 0.1f)), (101L, Array(0.88f, 0.11f)),
        (102L, Array(0.1f, 0.9f)))
      q1.processAllAvailable()
      assert(landed() === Set(100L, 102L))
    } finally q1.stop()
    // restart: 103 is a semantic dup of the SAVED 100; 104 is novel
    // within bucket 1 (orthogonal enough to clear the 0.95 threshold)
    val q2 = Stream.semdedupGate(df, centPath, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((103L, Array(0.92f, 0.09f)), (104L, Array(0.5f, 0.86f)))
      q2.processAllAvailable()
      assert(landed() === Set(100L, 102L, 104L))
      val fp = spark.read.parquet(store).select("vec_id", "src_batch").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(fp.map(_._1).toSet === Set(100L, 102L, 104L))
      assert(fp.map(_._2).sorted.toSeq === Seq(0L, 0L, 1L))
    } finally q2.stop()
  }

  test("stream_pack: carried offset makes streamed packs equal batch packing") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-spack").toString + "/packs"
    def doc(id: Long, n: Int): (Long, String) = (id, (1 to n).map(i => s"t$i").mkString(" "))
    val b1 = Seq(doc(0L, 100), doc(1L, 100))          // 200 tokens
    val b2 = Seq(doc(2L, 100), doc(3L, 60))           // pack 0 finishes inside doc 2
    val in = MemoryStream[(Long, String)]
    val q = Stream.packMaintenance(in.toDF().toDF("doc_id", "text"), store, budget = 256L)
      .start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = Stream.loadChunkStore(spark, store)
      .select("pack_id", "n_docs", "n_tokens", "first_doc", "last_doc")
      .orderBy("pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val want = graft.operators.Pipeline.packChunksOf(
        (b1 ++ b2).toDF("doc_id", "text"), budget = 256L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === want.toSeq)
    // the boundary pack really straddles the batches (docs from both)
    assert(got.exists(p => p._4 < 2L && p._5 >= 2L))
  }

  test("segmented stores: per-batch landing bytes track the delta, compaction bounds the layout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-seg").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(p: String): Long = fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    def segsOf(p: String): Seq[String] = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).filter(_.startsWith("seg=")).sorted.toSeq

    // ---- index store: 6 equal-sized batches, no auto-compact --------
    val idxPath = s"$base/index"
    val in = MemoryStream[(Long, String)]
    val q = Stream.indexMaintenance(in.toDF().toDF("doc_id", "text"), idxPath,
      nBuckets = 4, compactEvery = 100).start()
    val segBytes = scala.collection.mutable.ArrayBuffer[Long]()
    try {
      (0 until 6).foreach { b =>
        in.addData((0 until 20).map(i =>
          ((b * 20 + i).toLong, s"alpha beta gamma w${b * 20 + i} delta")): _*)
        q.processAllAvailable()
        val segs = segsOf(idxPath)
        assert(segs.size === b + 1) // exactly one new segment per batch
        segBytes += bytes(s"$idxPath/${segs.last}")
      }
    } finally q.stop()
    // the landing write is DELTA-sized: the 6th batch's segment is no
    // bigger than the 1st's (same-shape delta) while the store is 6x —
    // the old path's O(|store|) rewrite would make it ~6x the first
    assert(segBytes.last < segBytes.head * 2,
      s"per-batch landing grew with the store: $segBytes")
    val before = graft.sources.IndexStore.load(spark, idxPath)
      .select("term", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    graft.sources.IndexStore.compactSegments(spark, idxPath)
    assert(graft.sources.IndexStore.segmentIds(spark, idxPath).size === 1)
    val after = graft.sources.IndexStore.load(spark, idxPath)
      .select("term", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(after === before)

    // ---- pack store: same contract -----------------------------------
    val pkPath = s"$base/packs"
    val in2 = MemoryStream[(Long, String)]
    val q2 = Stream.interleaveMaintenance(in2.toDF().toDF("doc_id", "text"), pkPath,
      compactEvery = 100).start()
    val pkBytes = scala.collection.mutable.ArrayBuffer[Long]()
    try {
      (0 until 6).foreach { b =>
        in2.addData((0 until 10).map(i =>
          ((b * 10 + i).toLong, Seq.fill(40)(s"tok${b * 10 + i}").mkString(" "))): _*)
        q2.processAllAvailable()
        val segs = segsOf(pkPath)
        assert(segs.size === b + 1)
        pkBytes += bytes(s"$pkPath/${segs.last}")
      }
    } finally q2.stop()
    assert(pkBytes.last < pkBytes.head * 2,
      s"per-batch pack landing grew with the store: $pkBytes")
    val pkBefore = Stream.loadPackStore(spark, pkPath).orderBy("pack_id").collect().toSeq
    Stream.compactPackStore(spark, pkPath)
    assert(segsOf(pkPath).size === 1)
    assert(Stream.loadPackStore(spark, pkPath).orderBy("pack_id").collect().toSeq === pkBefore)
  }

  test("segmented stores: auto-compaction cycles keep file counts bounded, content exact") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-soakspec").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nSegs(p: String): Int = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .count(_.getPath.getName.startsWith("seg="))

    // ---- index: 20 batches, compactEvery=8 → two compaction cycles;
    //      batch 10 re-crawls earlier docs so last-writer-wins is
    //      exercised ACROSS a compaction boundary
    val idxPath = s"$base/index"
    val in = MemoryStream[(Long, String)]
    val q = Stream.indexMaintenance(in.toDF().toDF("doc_id", "text"), idxPath,
      nBuckets = 4, compactEvery = 8).start()
    val latest = scala.collection.mutable.Map[Long, String]()
    var maxSegs = 0
    try {
      (0 until 20).foreach { b =>
        val batch =
          if (b == 10) (0 until 3).map(i => (i.toLong, s"recrawled r$i fresh words"))
          else (0 until 3).map(i => ((b * 3 + i).toLong, s"doc w${b * 3 + i} alpha beta"))
        batch.foreach { case (id, t) => latest(id) = t }
        in.addData(batch: _*)
        q.processAllAvailable()
        maxSegs = math.max(maxSegs, nSegs(idxPath))
      }
    } finally q.stop()
    assert(maxSegs <= 8, s"segment count $maxSegs escaped the compactEvery bound")
    assert(nSegs(idxPath) < 8) // at least one compaction actually folded
    val want = operators.Index.invertedIndexOf(latest.toSeq.toDF("doc_id", "text"))
      .select("term", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val got = graft.sources.IndexStore.load(spark, idxPath)
      .select("term", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got === want)
    // the re-crawled docs' OLD postings are gone across the compaction
    assert(!got.exists { case (t, d, _) => d < 3 && Set("w0", "w1", "w2")(t) })

    // ---- pack store: 20 append-only batches in doc_id order ---------
    val pkPath = s"$base/packs"
    val in2 = MemoryStream[(Long, String)]
    val q2 = Stream.interleaveMaintenance(in2.toDF().toDF("doc_id", "text"), pkPath,
      compactEvery = 8).start()
    val all = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var maxSegs2 = 0
    try {
      (0 until 20).foreach { b =>
        val batch = (0 until 3).map(i =>
          ((b * 3 + i).toLong, Seq.fill(20)(s"t${b * 3 + i}").mkString(" ")))
        all ++= batch
        in2.addData(batch: _*)
        q2.processAllAvailable()
        maxSegs2 = math.max(maxSegs2, nSegs(pkPath))
      }
    } finally q2.stop()
    assert(maxSegs2 <= 8 && nSegs(pkPath) < 8)
    val wantPk = operators.Multimodal.mediaInterleaveOf(all.toSeq.toDF("doc_id", "text"))
      .orderBy("pack_id").collect().map(_.toSeq).toSeq
    val gotPk = Stream.loadPackStore(spark, pkPath)
      .orderBy("pack_id").collect().map(_.toSeq).toSeq
    assert(gotPk === wantPk)
  }

  test("batch-keyed stores: fresh checkpoint over an existing store fails loudly; horizon survives compaction") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-horizon").toString
    val store = s"$base/packs"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def segsOf(p: String): Seq[String] = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).filter(_.startsWith("seg=")).sorted.toSeq
    def doc(id: Long): (Long, String) = (id, Seq.fill(20)(s"t$id").mkString(" "))
    val in1 = MemoryStream[(Long, String)]
    val q1 = Stream.interleaveMaintenance(in1.toDF().toDF("doc_id", "text"), store)
      .option("checkpointLocation", s"$base/ckpt1").start()
    try {
      in1.addData(doc(0), doc(1)); q1.processAllAvailable() // batch 0
      in1.addData(doc(2), doc(3)); q1.processAllAvailable() // batch 1
    } finally q1.stop()
    // compaction must CARRY the applied horizon: segment ids are
    // monotonic, not batch ids, so the fold re-stamps the max marker
    Stream.compactPackStore(spark, store)
    assert(segsOf(store) === Seq("seg=1"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(store, "seg=1/_applied_upto_1")))
    val before = Stream.loadPackStore(spark, store).orderBy("pack_id")
      .collect().map(_.toSeq).toSeq
    // fresh checkpoint + fresh source over the same store: batch ids
    // restart at 0, BELOW the applied horizon 1 — the old batchId-keyed
    // scheme landed seg=0 under the compacted seg=1 and silently
    // inverted media_refs order; now the query fails loudly
    val in2 = MemoryStream[(Long, String)]
    val q2 = Stream.interleaveMaintenance(in2.toDF().toDF("doc_id", "text"), store)
      .option("checkpointLocation", s"$base/ckpt2").start()
    val ex = intercept[Throwable] {
      try { in2.addData(doc(9)); q2.processAllAvailable() } finally q2.stop()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("below the applied horizon")),
      s"expected the horizon failure, got: ${chain(ex)}")
    // ... and the failed attempt left the store untouched
    assert(Stream.loadPackStore(spark, store).orderBy("pack_id")
      .collect().map(_.toSeq).toSeq === before)
    // CONTINUING the original checkpoint still works: batch 2 lands as
    // the next monotonic segment above the compacted one
    val q3 = Stream.interleaveMaintenance(in1.toDF().toDF("doc_id", "text"), store)
      .option("checkpointLocation", s"$base/ckpt1").start()
    try {
      in1.addData(doc(4)); q3.processAllAvailable()
    } finally q3.stop()
    assert(segsOf(store) === Seq("seg=1", "seg=2"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(store, "seg=2/_applied_upto_2")))
    assert(Stream.loadPackStore(spark, store).orderBy("pack_id")
        .collect().map(_.toSeq).toSeq ===
      operators.Multimodal.mediaInterleaveOf(
          (0L to 4L).map(doc).toDF("doc_id", "text"))
        .orderBy("pack_id").collect().map(_.toSeq).toSeq)

    // the count ledgers carry the same horizon (one marker riding
    // each segment's landing): a fresh checkpoint over an existing
    // source-mix ledger would silently DROP old batches'
    // src_batch-keyed rows from its sums — it must fail loudly instead
    val mixStore = s"$base/mix"
    val inM = MemoryStream[(Long, String, String)]
    val qm = Stream.sourceMixMonitor(
        inM.toDF().toDF("doc_id", "source", "text"), mixStore, s"$base/mixout")
      .option("checkpointLocation", s"$base/ckptM1").start()
    try {
      inM.addData((0L, "web", "alpha beta")); qm.processAllAvailable()
      inM.addData((1L, "web", "gamma delta")); qm.processAllAvailable()
    } finally qm.stop()
    assert(fs.exists(new org.apache.hadoop.fs.Path(mixStore, "seg=1/_applied_upto_1")))
    val inM2 = MemoryStream[(Long, String, String)]
    val qm2 = Stream.sourceMixMonitor(
        inM2.toDF().toDF("doc_id", "source", "text"), mixStore, s"$base/mixout2")
      .option("checkpointLocation", s"$base/ckptM2").start()
    val exM = intercept[Throwable] {
      try { inM2.addData((9L, "web", "omega")); qm2.processAllAvailable() }
      finally qm2.stop()
    }
    assert(chain(exM).exists(_.contains("below the applied horizon")),
      s"expected the swap-ledger horizon failure, got: ${chain(exM)}")
  }

  test("empty deltas never land: no data-less segments, offsets and novelty unaffected") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def segsOf(p: String): Seq[String] =
      if (!fs.exists(new org.apache.hadoop.fs.Path(p))) Seq.empty
      else fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .map(_.getPath.getName).filter(_.startsWith("seg=")).sorted.toSeq

    // ---- pack store: an all-empty FIRST batch must not brick the
    //      store (the old path's empty partitioned segment failed
    //      schema inference on every later read → replay loop)
    val pkStore = s"$base/packs"
    val in = MemoryStream[(Long, String)]
    val q = Stream.packMaintenance(in.toDF().toDF("doc_id", "text"), pkStore, budget = 64L)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      in.addData((0L, ""), (1L, "")); q.processAllAvailable() // batch 0: zero tokens
      assert(segsOf(pkStore).isEmpty)                         // nothing landed
      in.addData((2L, (1 to 100).map(i => s"w$i").mkString(" ")))
      q.processAllAvailable()                                 // batch 1 lands fine
    } finally q.stop()
    assert(segsOf(pkStore) === Seq("seg=0")) // next monotonic id, offset started at 0
    assert(Stream.loadChunkStore(spark, pkStore).agg(
      org.apache.spark.sql.functions.sum("n_tokens")).head.getLong(0) === 100L)

    // ---- bucket-partitioned set store: an all-duplicate batch's empty
    //      delta must not land a data-less partitioned segment
    val (centPath, store, out) = (s"$base/centroids", s"$base/vecs", s"$base/out")
    graft.operators.Similarity.saveCentroids(
      Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding"),
      centPath)
    val in2 = MemoryStream[(Long, Array[Float])]
    val q2 = Stream.semdedupGate(in2.toDF().toDF("vec_id", "embedding"),
        centPath, store, out)
      .option("checkpointLocation", s"$base/ckpt2").start()
    try {
      in2.addData((100L, Array(0.9f, 0.1f))); q2.processAllAvailable()
      assert(segsOf(store) === Seq("seg=0"))
      // batch 1: a pure semantic dup of the saved 100 → empty delta
      in2.addData((101L, Array(0.89f, 0.11f))); q2.processAllAvailable()
      assert(segsOf(store) === Seq("seg=0")) // skipped, not landed empty
      // batch 2 still reads the store cleanly and lands
      in2.addData((102L, Array(0.1f, 0.9f))); q2.processAllAvailable()
    } finally q2.stop()
    assert(segsOf(store) === Seq("seg=0", "seg=1"))
    assert(spark.read.parquet(out).select("vec_id").collect()
      .map(_.getLong(0)).toSet === Set(100L, 102L))

    // ---- index store: a whitespace-only FIRST batch has no postings;
    //      landed, its data-less segment failed schema inference on
    //      every later load and lookup
    val idxStore = s"$base/index"
    val in3 = MemoryStream[(Long, String)]
    val q3 = Stream.indexMaintenance(in3.toDF().toDF("doc_id", "text"), idxStore,
        nBuckets = 4)
      .option("checkpointLocation", s"$base/ckpt3").start()
    try {
      in3.addData((0L, "   ")); q3.processAllAvailable()
      assert(graft.sources.IndexStore.segmentIds(spark, idxStore).isEmpty)
      in3.addData((1L, "alpha beta"), (2L, "beta")); q3.processAllAvailable()
    } finally q3.stop()
    assert(graft.sources.IndexStore.segmentIds(spark, idxStore) === Seq(0L))
    assert(graft.sources.IndexStore.load(spark, idxStore).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(graft.sources.IndexStore.lookup(spark, idxStore, "beta", nBuckets = 4)
      .count() === 2L)
  }

  test("stream_interleave: streamed sequence assembly equals the batch packer, restart-safe") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (b1, rest) = docs.splitAt(docs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val base = java.nio.file.Files.createTempDirectory("graft-il").toString
    val (store, ckpt) = (s"$base/packs", s"$base/ckpt")
    def snap() = Stream.loadPackStore(spark, store)
      .orderBy("pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))).toSeq
    def batchWant(ds: Seq[(Long, String)]) =
      operators.Multimodal.mediaInterleaveOf(ds.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))).toSeq
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val q = Stream.interleaveMaintenance(df, store)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(b1.toSeq: _*)
      q.processAllAvailable()
      in.addData(b2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = snap()
    assert(got === batchWant((b1 ++ b2).toSeq))
    // restart drill: same source + checkpoint — the store (its Σ
    // n_tokens offset), not executor state, carries the token line
    val q2 = Stream.interleaveMaintenance(df, store)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(b3.toSeq: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(snap() === batchWant(docs.toSeq))

    // crafted straddle: doc 0 (300 tokens, 316 slots) ends inside pack
    // 1; doc 1 arrives in a LATER batch and lands in pack 1 too, so the
    // pack-granular merge must sum the partial rows and concatenate the
    // manifests store-before-delta (both anchors sit in pack 1 by
    // construction: nb mod nchunks puts each after its last chunk)
    val t0 = Seq.fill(300)("aaaa").mkString(" ")
    val t1 = Seq.fill(100)("bbbb").mkString(" ")
    val store2 = s"$base/packs2"
    val in2 = MemoryStream[(Long, String)]
    val q3 = Stream.interleaveMaintenance(in2.toDF().toDF("doc_id", "text"), store2)
      .option("checkpointLocation", s"$base/ckpt2").start()
    try {
      in2.addData((0L, t0)); q3.processAllAvailable()
      in2.addData((1L, t1)); q3.processAllAvailable()
    } finally q3.stop()
    val packs2 = Stream.loadPackStore(spark, store2).orderBy("pack_id").collect()
    val p1 = packs2.find(_.getLong(0) === 1L).get
    assert(p1.getLong(5) === 0L && p1.getLong(6) === 1L) // straddles both batches
    assert(p1.getLong(3) === 2L)                         // both anchors in pack 1
    assert(p1.getString(7) ===
      java.security.MessageDigest.getInstance("MD5").digest(t0.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString + "," +
      java.security.MessageDigest.getInstance("MD5").digest(t1.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    // and the merged store still equals the batch packer on both docs
    assert(packs2.map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getString(7))).toSeq
      === operators.Multimodal.mediaInterleaveOf(Seq((0L, t0), (1L, t1)).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getString(7))).toSeq)
  }

  test("stream_topk: update-mode running wordcount merges across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val q = Stream.runningWordcount(in.toDF().toDF("text"))
      .writeStream.format("memory").queryName("running_wc")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData("a b a", "b c")
      q.processAllAvailable()
      in.addData("a c c")
      q.processAllAvailable()
      // memory sink in Update mode appends changed rows; the LAST
      // emission per term is its current running count
      val last = spark.table("running_wc").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (t, rs) => (t, rs.map(_._2).max) }
      assert(last === Map("a" -> 3L, "b" -> 2L, "c" -> 3L))
    } finally q.stop()
  }

  test("stream_sessionize: gap closing + out-of-order merge (timeout variant)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Stream.Ev]
    val q = Stream.sessionizeWithTimeout(in.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    def user(id: Long) = spark.table("sessions").filter(col("user_id") === id)
    try {
      // first event off t=0: a row at exactly the initial watermark is
      // discarded as late by the stateful operator
      in.addData(Stream.Ev(1L, ts(5), "click"), Stream.Ev(1L, ts(10), "view"))
      q.processAllAvailable()
      assert(spark.table("sessions").count() === 0) // session still open
      in.addData(Stream.Ev(1L, ts(120), "click"))   // > 30 min gap -> closes
      q.processAllAvailable()
      val s = user(1L).collect()
      assert(s.length === 1)
      assert(s(0).getLong(1) === 2L)                       // n_events
      assert(s(0).getLong(2) === 5L * 60L * 1000000L)      // start_us
      assert(s(0).getLong(3) === 10L * 60L * 1000000L)     // end_us
      // second user's far-apart events in ONE batch emit immediately
      // (both above the running watermark of 120 - 30 = 90 min)
      in.addData(Stream.Ev(2L, ts(300), "a"), Stream.Ev(2L, ts(500), "b"))
      q.processAllAvailable()
      val u2 = user(2L).collect()
      assert(u2.length === 1 && u2(0).getLong(1) === 1L)
      assert(u2(0).getLong(2) === 300L * 60L * 1000000L)
      // out-of-order event within gap BEFORE the open session's start
      // (and above the watermark) merges and lowers the start
      in.addData(Stream.Ev(3L, ts(500), "a"))
      q.processAllAvailable()
      in.addData(Stream.Ev(3L, ts(480), "b")) // 20 min earlier, within gap
      q.processAllAvailable()
      in.addData(Stream.Ev(3L, ts(600), "c")) // > 30 min after 500 -> closes
      q.processAllAvailable()
      val u3 = user(3L).collect()
      assert(u3.length === 1)
      assert(u3(0).getLong(1) === 2L)                    // both events merged
      assert(u3(0).getLong(2) === 480L * 60L * 1000000L) // start lowered
      assert(u3(0).getLong(3) === 500L * 60L * 1000000L)
    } finally q.stop()
  }

  test("stream_boilerplate_store: sentence ledger catches late chrome across restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-bp").toString
    val (store, out, ckpt) = (s"$base/ledger", s"$base/out", s"$base/ckpt")
    def landed(id: Long): Map[Long, (Long, Long, String)] =
      spark.read.parquet(s"$out/batch=$id").collect().map { r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getString(4)))
      }.toMap
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val chrome = "accept all cookies"
    val q1 = Stream.boilerplateGate(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      // batch 0: chrome reaches 2 docs IN-batch -> scrubbed immediately
      in.addData((0L, s"$chrome. real zero"), (1L, s"unique one. $chrome"))
      q1.processAllAvailable()
      assert(landed(0L) === Map(
        0L -> ((2L, 1L, "real zero")), 1L -> ((2L, 1L, "unique one"))))
    } finally q1.stop()
    // restart: doc 2 repeats the chrome once more — the LEDGER (not
    // executor state) knows its reach is already >= 2
    val q2 = Stream.boilerplateGate(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((2L, s"real two. $chrome"), (3L, "all original text"))
      q2.processAllAvailable()
      assert(landed(1L) === Map(
        2L -> ((2L, 1L, "real two")), 3L -> ((1L, 0L, "all original text"))))
      // ledger: DISTINCT (sh, doc_id) pairs attributed to their
      // first-seen batch — batch 0 contributed 4 pairs (chrome in two
      // docs + two unique sentences), batch 1 three fresh pairs
      val led = spark.read.parquet(store).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(led.distinct.length === led.length, "pair ledger holds no duplicates")
      assert(led.count(_._3 == 0L) === 4 && led.count(_._3 == 1L) === 3)
      // the chrome digest carries exactly one row per doc that said it
      val chromeSh = led.groupBy(_._1).maxBy(_._2.size)._1
      assert(led.filter(_._1 == chromeSh).map(_._2).sorted.toSeq === Seq(0L, 1L, 2L))
    } finally q2.stop()
  }

  test("stream_boilerplate_store: legacy count ledger fails loud with the remedy") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-bpl").toString
    val (store, out, ckpt) = (s"$base/ledger", s"$base/out", s"$base/ckpt")
    // a store written by the r7 code: per-batch counts, no doc identities
    Seq(("d41d8cd98f00b204e9800998ecf8427e", 2L, 0L))
      .toDF("sh", "n_docs", "src_batch").write.parquet(store)
    val in = MemoryStream[(Long, String)]
    val q = Stream.boilerplateGate(in.toDF().toDF("doc_id", "text"), store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData((0L, "some text here"))
      val e = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val all = msgs(e).mkString("\n")
      assert(all.contains("legacy") && all.contains("delete the store"),
        s"expected the explicit ledger-format error, got: $all")
    } finally q.stop()
  }

  test("stream_forecast: ledger replay equals the batch Holt fold, late days revise") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-fc").toString
    val (store, out, ckpt) = (s"$base/ledger", s"$base/out", s"$base/ckpt")
    def day(d: Long, n: Int): Seq[Timestamp] =
      (1 to n).map(i => new Timestamp(d * 86400000L + i * 1000L))
    def report(id: Long) = spark.read.parquet(s"$out/batch=$id").collect().head
    // the batch twin on the same (day, c) frame is the ground truth
    def want(counts: Map[Long, Long]) = {
      val daily = counts.toSeq.toDF("day", "c")
      operators.Analytics.holtOf(daily)
        .orderBy(org.apache.spark.sql.functions.col("day").desc).limit(1).collect().head
    }
    // the monitor's first batch can be empty: the fold must yield an
    // empty frame, not an ANSI element_at crash
    assert(operators.Analytics.holtOf(
      Seq.empty[(Long, Long)].toDF("day", "c")).count() === 0L)
    val in = MemoryStream[Timestamp]
    val df = in.toDF().toDF("ts")
    val q1 = Stream.forecastMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(day(100, 4) ++ day(101, 6): _*)
      q1.processAllAvailable()
      val r0 = report(0L)
      val w0 = want(Map(100L -> 4L, 101L -> 6L))
      assert(r0.getLong(1) === 101L && r0.getLong(5) === 2L)
      assert(r0.getDouble(4) === w0.getDouble(4), "forecast = batch fold")
    } finally q1.stop()
    // restart; batch 1 brings day 102 AND a LATE day-100 event — the
    // ledger replay must revise the whole smoothed history exactly
    val q2 = Stream.forecastMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(day(102, 8) ++ day(100, 1).map(t => new Timestamp(t.getTime + 50000)): _*)
      q2.processAllAvailable()
      val r1 = report(1L)
      val w1 = want(Map(100L -> 5L, 101L -> 6L, 102L -> 8L))
      assert(r1.getLong(1) === 102L && r1.getLong(5) === 3L)
      assert(r1.getDouble(2) === w1.getDouble(2), "level revised by the late day")
      assert(r1.getDouble(3) === w1.getDouble(3), "trend revised by the late day")
      assert(r1.getDouble(4) === w1.getDouble(4))
    } finally q2.stop()
  }

  test("stream_hw_forecast: seeds after 8 ledger days, next-day projection uses the register") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-hwfc").toString
    val (store, out, ckpt) = (s"$base/ledger", s"$base/out", s"$base/ckpt")
    def day(d: Long, n: Int): Seq[Timestamp] =
      (1 to n).map(i => new Timestamp(d * 86400000L + i * 1000L))
    val in = MemoryStream[Timestamp]
    val df = in.toDF().toDF("ts")
    val q1 = Stream.hwForecastMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      // 7 days: below the seed-week bar, the monitor must emit nothing
      in.addData((100L to 106L).flatMap(d => day(d, 5)): _*)
      q1.processAllAvailable()
      assert(spark.read.parquet(s"$out/batch=0").count() === 0L)
      // day 8 of a CONSTANT series: fixed point — level 5, trend 0,
      // seasonal 0, next-day projection exactly 5
      in.addData(day(107, 5): _*)
      q1.processAllAvailable()
      val r = spark.read.parquet(s"$out/batch=1").collect().head
      assert(r.getLong(1) === 107L && r.getLong(6) === 8L)
      assert(r.getDouble(2) === 5.0 && r.getDouble(3) === 0.0)
      assert(r.getDouble(5) === 5.0, "next-day projection at the fixed point")
      // the monitor's latest state equals the batch fold on the ledger
      val w = operators.Analytics.holtWintersOf(
          (100L to 107L).map(d => (d, 5L)).toDF("day", "c"))
        .orderBy(org.apache.spark.sql.functions.col("day").desc).limit(1)
        .collect().head
      assert(r.getDouble(2) === w.getDouble(2) && r.getDouble(3) === w.getDouble(3))
    } finally q1.stop()
  }

  test("stream_stl_anomaly: residual spike flagged on the decomposable day") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-stlmon").toString
    val (store, out, ckpt) = (s"$base/ledger", s"$base/out", s"$base/ckpt")
    def day(d: Long, n: Int): Seq[Timestamp] =
      (1 to n).map(i => new Timestamp(d * 86400000L + i * 1000L))
    val in = MemoryStream[Timestamp]
    val df = in.toDF().toDF("ts")
    val q1 = Stream.stlAnomalyMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      // 14 flat days, then a 10x spike at day 114; the spike day is
      // decomposable once days 115-117 arrive (centered window)
      in.addData((100L to 113L).flatMap(d => day(d, 5)) ++ day(114, 50) ++
        (115L to 117L).flatMap(d => day(d, 5)): _*)
      q1.processAllAvailable()
      val r = spark.read.parquet(s"$out/batch=0").collect().head
      assert(r.getLong(1) === 114L, "latest decomposable day trails head by 3")
      assert(r.getLong(2) === 50L && r.getLong(6) === 1L, "spike flagged")
      assert(r.getLong(7) >= 1L)
      // the monitor row equals the batch key on the same daily frame
      val counts = (100L to 117L).map(d => (d, if (d == 114L) 50L else 5L))
      val w = operators.Analytics.eventsStlAnomalyOf(counts.toDF("day", "c"))
        .orderBy(org.apache.spark.sql.functions.col("day").desc).limit(1)
        .collect().head
      assert(r.getDouble(3) === w.getDouble(2) && r.getLong(6) === w.getLong(5))
    } finally q1.stop()
  }

  test("stream_changepoint: split tracks the level shift across a restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-cp").toString
    val (store, out, ckpt) = (s"$base/ledger", s"$base/out", s"$base/ckpt")
    def day(d: Long, n: Int): Seq[Timestamp] =
      (1 to n).map(i => new Timestamp(d * 86400000L + i * 1000L))
    def report(id: Long) = spark.read.parquet(s"$out/batch=$id").collect().head
    val in = MemoryStream[Timestamp]
    val df = in.toDF().toDF("ts")
    var gain0 = 0L
    val q1 = Stream.changepointMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      // flat level 5, then a jump to 20 at day 103 — split lands on 102
      in.addData(day(100, 5) ++ day(101, 5) ++ day(102, 5) ++ day(103, 20): _*)
      q1.processAllAvailable()
      val r0 = report(0L)
      assert(r0.getLong(1) === 4L && r0.getLong(2) === 102L)
      gain0 = r0.getLong(5)
      assert(gain0 > 0L, "the jump must show positive gain")
    } finally q1.stop()
    // restart: the level shift continues — the split must STAY at 102
    // (all-integer argmin, no float flapping) with larger gain
    val q2 = Stream.changepointMonitor(df, store, out)
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(day(104, 21) ++ day(105, 19): _*)
      q2.processAllAvailable()
      val r1 = report(1L)
      assert(r1.getLong(1) === 6L && r1.getLong(2) === 102L)
      assert(r1.getLong(5) > gain0, "gain grows as the shift persists")
    } finally q2.stop()
  }

  test("pack-store takedown tripwire: corpus takedown after build fails the load loudly; rebuild + restamp loads clean") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-tripwire").toString
    val (cp, packP) = (s"$base/corpus", s"$base/packs")
    graft.sources.CorpusStore.save(
      Seq((0L, "alpha beta", "en", "s0"), (1L, "gamma delta", "en", "s0"))
        .toDF("doc_id", "text", "lang", "source"), cp)
    // a (simulated) pack build from the corpus + the epoch stamp
    Seq((0L, 2L, 4L, 0L, 1L)).toDF(
        "pack_id", "n_docs", "n_tokens", "first_doc", "last_doc")
      .write.parquet(packP)
    graft.streaming.Stream.stampCorpusEpoch(spark, packP, cp)
    assert(graft.streaming.Stream.packFresh(spark, packP, cp))
    assert(graft.streaming.Stream.loadChunkStore(spark, packP,
      corpusPath = Some(cp)).count() === 1L)
    // a takedown lands on the corpus: the pack store is now stale and
    // the tripwired load must fail loudly, naming the rebuild
    graft.sources.CorpusStore.delete(spark, cp, Seq(0L))
    assert(!graft.streaming.Stream.packFresh(spark, packP, cp))
    val boom = intercept[IllegalArgumentException] {
      graft.streaming.Stream.loadChunkStore(spark, packP, corpusPath = Some(cp))
    }
    assert(boom.getMessage.contains("Rebuild"))
    // folding the corpus purges the tombstones but CARRIES the epoch —
    // the stale pack must stay loud after the fold too
    graft.sources.CorpusStore.foldTombstones(spark, cp)
    assert(!graft.sources.Tombstones.hasAny(spark, cp))
    assert(graft.sources.Tombstones.epoch(spark, cp) === 1L,
      "the takedown epoch must survive the fold")
    assert(!graft.streaming.Stream.packFresh(spark, packP, cp))
    // the rebuild-from-purged-corpus + restamp loads clean
    val fs = new org.apache.hadoop.fs.Path(packP)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(packP), true)
    Seq((0L, 1L, 2L, 1L, 1L)).toDF(
        "pack_id", "n_docs", "n_tokens", "first_doc", "last_doc")
      .write.parquet(packP)
    graft.streaming.Stream.stampCorpusEpoch(spark, packP, cp)
    assert(graft.streaming.Stream.loadChunkStore(spark, packP,
      corpusPath = Some(cp)).count() === 1L)
    // an UNSTAMPED store against a takedown-bearing corpus is
    // indistinguishable from stale — conservative refusal
    fs.delete(new org.apache.hadoop.fs.Path(packP, "_corpus_epoch"), false)
    assert(!graft.streaming.Stream.packFresh(spark, packP, cp))
    // a streamed pack store stamps each landing; folding its segments
    // must CARRY the stamp, or the fold alone would make it stale
    implicit val ctx = spark.sqlContext
    val streamed = s"$base/streamed"
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Stream.packMaintenance(in.toDF().toDF("doc_id", "text"),
        streamed, budget = 4L, corpusPath = Some(cp))
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      in.addData((1L, "gamma delta")); q.processAllAvailable()
      in.addData((2L, "epsilon zeta eta")); q.processAllAvailable()
    } finally q.stop()
    def nSegs(): Int = fs.listStatus(new org.apache.hadoop.fs.Path(streamed))
      .count(_.getPath.getName.startsWith("seg="))
    assert(nSegs() === 2)
    graft.streaming.Stream.compactChunkStore(spark, streamed)
    assert(nSegs() === 1)
    assert(graft.streaming.Stream.packFresh(spark, streamed, cp),
      "the fold must carry the corpus-epoch stamp")
    assert(graft.streaming.Stream.loadChunkStore(spark, streamed,
      corpusPath = Some(cp)).agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .head.getLong(0) === 5L)
  }

  test("sq8 quantized dense serving: ADC shortlist + exact rerank vs raw serving; staleness and takedowns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-sq8").toString
    val (centP, storeP) = (s"$base/cent", s"$base/store")
    val emb = sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
    graft.operators.Similarity.saveCentroids(emb, centP)
    graft.operators.Similarity
      .ivfAssignTo(graft.operators.Similarity.withNormOf(emb),
        spark.read.parquet(centP))
      .select("vec_id", "embedding", "nm", "bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(storeP)
    Stream.quantizeEmbedStore(spark, storeP)
    assert(Stream.embedQuantFresh(spark, storeP))
    val queries = emb.orderBy("vec_id").limit(10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val oes = Stream.openEmbedStore(spark, storeP, centP)
    val oq = Stream.openEmbedStoreQuantized(spark, storeP, centP)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val raw = rows(Stream.knnServeOn(oes, queries.toDF("vec_id", "embedding"), k = 5))
    val quant = rows(Stream.knnServeQuantized(oq,
      queries.toDF("vec_id", "embedding"), k = 5))
    assert(raw.nonEmpty && quant.size === raw.size)
    // the recall floor of the default shortlist (k·4), measured: the
    // exact rerank returns raw-identical cosines, so any common
    // (query, vec) row is bit-identical; the floor is how often the
    // true top-k survived the SQ8 first pass
    val recall = quant.map(r => (r._1, r._3)).toSet
      .intersect(raw.map(r => (r._1, r._3)).toSet).size.toDouble / raw.size
    assert(recall >= 0.9, s"SQ8 shortlist recall@5 floor broke: $recall")
    val rawByKey = raw.map(r => (r._1, r._3) -> r._4).toMap
    quant.foreach { r =>
      rawByKey.get((r._1, r._3)).foreach(c =>
        assert(c === r._4, "rerank cosine must be the raw exact cosine"))
    }
    // a bucket-covering shortlist makes parity STRUCTURAL: every
    // in-bucket candidate is reranked exactly, so rows must be equal
    val quantFull = rows(Stream.knnServeQuantized(oq,
      queries.toDF("vec_id", "embedding"), k = 5, shortlistMult = 100000))
    assert(quantFull === raw,
      "bucket-covering shortlist + exact rerank must equal raw serving")
    // the code scan is literally bucket-pruned like the raw scan
    val codes = Stream.knnServeQuantized(oq, queries.take(1).toDF("vec_id", "embedding"), k = 5)
    val plan = codes.queryExecution.executedPlan.toString
    assert(Explain.prunes(codes, "bucket") && !plan.contains("dynamicpruning"),
      s"code scan not literally bucket-pruned:\n$plan")
    // on-disk: codes must undercut the raw fp32 layout
    val fs = new org.apache.hadoop.fs.Path(storeP)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val codeBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(storeP, "_sq8/codes")).getLength
    val rawBytes = fs.listStatus(new org.apache.hadoop.fs.Path(storeP))
      .filter(s => s.getPath.getName.startsWith("bucket="))
      .map(s => fs.getContentSummary(s.getPath).getLength).sum
    assert(codeBytes < rawBytes,
      s"codes ($codeBytes B) must undercut raw fp32 ($rawBytes B)")
    // a takedown does NOT stale the layout — the codes reader
    // anti-joins it live, identical to the raw reader
    val victim = raw.head._3
    sources.Tombstones.append(spark, storeP, Seq(victim), key = "vec_id")
    assert(Stream.embedQuantFresh(spark, storeP))
    val afterTd = rows(Stream.knnServeQuantized(
      Stream.openEmbedStoreQuantized(spark, storeP, centP),
      queries.toDF("vec_id", "embedding"), k = 5))
    assert(!afterTd.map(_._3).contains(victim))
    // new DATA landed after the quantize DOES stale it — loudly
    graft.operators.Similarity
      .ivfAssignTo(graft.operators.Similarity.withNormOf(
        Seq((999999L, queries.head._2)).toDF("vec_id", "embedding")),
        spark.read.parquet(centP))
      .select("vec_id", "embedding", "nm", "bucket")
      .write.partitionBy("bucket").mode("append").parquet(storeP)
    assert(!Stream.embedQuantFresh(spark, storeP))
    val boom = intercept[IllegalArgumentException] {
      Stream.openEmbedStoreQuantized(spark, storeP, centP)
    }
    assert(boom.getMessage.contains("quantizeEmbedStore"))
    // ...and a re-quantize picks the new vector up
    Stream.quantizeEmbedStore(spark, storeP)
    val afterRe = rows(Stream.knnServeQuantized(
      Stream.openEmbedStoreQuantized(spark, storeP, centP),
      queries.toDF("vec_id", "embedding"), k = 5))
    assert(afterRe.map(_._3).contains(999999L),
      "re-quantize must serve the newly landed vector")
  }
}
