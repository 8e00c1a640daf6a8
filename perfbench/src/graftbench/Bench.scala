package graftbench

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Shared state of one benchmark process: the session, the tracer, the
  * timing samples and the output checks. Everything the run measures
  * lands here and is written out once, at the end, by [[Main]].
  */
final class Bench(val cores: Int, val trace: Boolean, val inputDir: String,
                  val workDir: String, val seconds: Double) {
  var spark: SparkSession = _
  val ledger = new JobLedger
  val tracer = new Tracer(trace, spark.sparkContext)
  /** samples by name, in ms unless the name says otherwise */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** single values: counts, sizes, properties. */
  val values = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  val failures = mutable.ArrayBuffer[String]()
  val sessionS = mutable.ArrayBuffer[Double]()
  val probeS = mutable.ArrayBuffer[Double]()

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  /** Count one checked operation; `ok` false records `what` as a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  def startSession(): Unit = {
    val t0 = System.nanoTime()
    spark = GraftSession.builder(cores.toString)
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sessionS += (System.nanoTime() - t0) / 1e6 / 1e3
  }

  def stopSession(): Unit = { spark.stop(); spark = null }

  def path(name: String): String = s"$workDir/$name"

  /** Time `body` in ms. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** One operator call split at the three boundaries the trace names:
    * `build` (the operator call that returns the DataFrame, including
    * any eager jobs it runs), `plan` (`queryExecution.executedPlan`) and
    * `exec` (the action). Returns the action's result and the wall ms.
    */
  def op[R](name: String)(build: => DataFrame)(exec: DataFrame => R): (R, Double) = {
    val o = tracer.newOp()
    timed {
      tracer.span(name, o) {
        val df = tracer.span("build", o)(build)
        tracer.span("plan", o)(df.queryExecution.executedPlan)
        tracer.span("exec", o)(exec(df))
      }
    }
  }

  /** A store call that is not a DataFrame-returning operator. */
  def call[R](name: String)(body: => R): (R, Double) = {
    val o = tracer.newOp()
    timed(tracer.span(name, o)(body))
  }

  def count(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Bytes and files under a local directory. */
  def du(p: String): (Long, Int) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try {
      val regular = files.filter(f => java.nio.file.Files.isRegularFile(f)).toArray
      (regular.map(f => java.nio.file.Files.size(f.asInstanceOf[java.nio.file.Path])).sum,
        regular.length)
    } finally files.close()
  }

  /** The closed loop: iteration i starts only after i-1 returns; it runs
    * until `secs` are spent, and at least once.
    */
  def loop(secs: Double)(body: Int => Unit): Unit = {
    val end = System.nanoTime() + (secs * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < end) {
      body(i)
      i += 1
    }
  }
}
