package graft

import graft.operators.{Dedup, Index}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r15 measurement harness: per-stage noop-sink timing (guide §1.4) of
  * the expensive composite queries, so optimization targets the stage
  * that actually costs, not the one that looks heavy. Not a gate
  * surface — numbers land in OPTIMIZATION_r15.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.OptProf [guarded] [graph]"
  * (no section = guarded)
  */
object OptProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val sections = if (args.isEmpty) Set("guarded") else args.toSet

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(body: => Unit): Unit = {
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      println(f"[prof] $label%-40s ${ts.min}%8.3fs  (runs: ${ts.map(t => f"$t%.3f").mkString(", ")})")
    }

    if (sections("guarded")) {
      val docs = Tables.documents(spark, sfDir)
      // stage 1: the shared tf-idf weighted frame (one corpus pass)
      def wOf(): DataFrame = {
        val base = Index.tokenStreamOf(docs).groupBy("doc_id", "term")
          .agg(count(lit(1)).cast("double").as("tf"))
        val nDf = docs.agg(count(lit(1)).cast("double").as("n"))
        val df = base.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
        base.join(df, "term").crossJoin(broadcast(nDf))
          .filter(col("df") < col("n"))
          .select(col("doc_id"), col("term"), col("df"), col("n"),
            (col("tf") * log(col("n") / col("df"))).as("w"))
      }
      time("guarded: w build (no ckpt)") { noop(wOf()) }
      val w = wOf().localCheckpoint()
      time("guarded: audit on ckpt'd w") {
        Index.tfidfBlockingRecallOfW(w).select("regime").head()
      }
      time("guarded: winnow candidates") {
        noop(Dedup.winnowCandidatesOf(docs).select("doc_a", "doc_b"))
      }
      time("guarded: profile rung") { noop(Index.profileIvfCandidatesOf(w)) }
      val cand = Dedup.winnowCandidatesOf(docs).select("doc_a", "doc_b")
        .unionByName(Index.profileIvfCandidatesOf(w))
        .distinct()
      time("guarded: cand union+distinct") { noop(cand) }
      val candM = cand.localCheckpoint()
      println(s"[prof] cand rows = ${candM.count()}")
      val dv = Index.docVecsOf(w)
      time("guarded: rescore (map-dot) on cand") {
        noop(candM
          .join(dv.select(col("doc_id").as("doc_a"), col("tw").as("ta"),
            col("nrm").as("na")), "doc_a")
          .join(dv.select(col("doc_id").as("doc_b"), col("tw").as("tb"),
            col("nrm").as("nb")), "doc_b")
          .withColumn("dot", Index.mapDot(col("ta"), col("tb")))
          .filter(col("dot") > 0.0)
          .select(col("doc_a"), col("doc_b"),
            round(col("dot") / (col("na") * col("nb")), 4).as("cosine"))
          .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
          .limit(20))
      }
      time("guarded: end-to-end") { noop(Index.tfidfCosineGuarded(spark, sfDir)) }
    }

    if (sections("graph")) {
      val docs = Tables.documents(spark, sfDir)
      time("graph: simhashDf") { noop(Dedup.simhashDf(docs)) }
      time("graph: edges (simhash pairs h<=1)") {
        noop(Dedup.simhashPairsOf(docs, maxHamming = 1))
      }
      val e = Dedup.simhashPairsOf(docs, maxHamming = 1)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .localCheckpoint()
      println(s"[prof] edge rows = ${e.count()}")
      val deg = e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      time("graph: degrees") { noop(deg) }
      val o = e
        .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
        .select(
          when(struct(col("da").as("d"), col("a").as("n")) <
              struct(col("db").as("d"), col("b").as("n")), col("a"))
            .otherwise(col("b")).as("lo"),
          when(struct(col("da").as("d"), col("a").as("n")) <
              struct(col("db").as("d"), col("b").as("n")),
            struct(col("db").as("d"), col("b").as("n")))
            .otherwise(struct(col("da").as("d"), col("a").as("n"))).as("rhi"))
        .withColumn("hi", col("rhi")("n"))
      time("graph: orient (no ckpt)") { noop(o) }
      val oc = o.localCheckpoint()
      time("graph: wedge join + close") {
        noop(oc.as("x").join(oc.as("y"),
            col("x.lo") === col("y.lo") && col("x.rhi") < col("y.rhi"))
          .select(col("x.lo").as("u"), col("x.hi").as("p"), col("y.hi").as("q"))
          .as("w")
          .join(oc.as("z"), col("w.p") === col("z.lo") && col("w.q") === col("z.hi"),
            "left_semi")
          .select(array_sort(array(col("u"), col("p"), col("q"))).as("t"))
          .select(col("t")(0).as("a"), col("t")(1).as("b"), col("t")(2).as("c")))
      }
      time("graph: neardup_triangles e2e") {
        noop(Dedup.neardupTriangles(spark, sfDir))
      }
    }
    spark.stop()
  }
}
