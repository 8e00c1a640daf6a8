package graftbench

/** One benchmark process: `--workload <w> --input <dir> --work <dir>
  * --seconds <s> --trace <0|1> --cores <n> --setups <k> --out <file>
  * [--keys <file>]`. Sets up `setups` times (session start and a probe
  * job; the runner generates the inputs as often), then runs the
  * workload's timed loop on the last session, checks its outputs and
  * writes every raw record (samples, values, checks, spans and Spark
  * job/stage/task records) to `--out` as JSON. The runner turns that
  * file into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val b = new Bench(a("cores").toInt, a("trace") == "1", a("input"), a("work"),
      a("seconds").toDouble)
    val setups = a("setups").toInt
    // set-up (session start and a probe job over the inputs) is repeated
    // `setups` times; the runner generates the inputs as often
    for (i <- 1 to setups) {
      b.startSession()
      b.probeS += b.timed(probe(b))._2 / 1e3
      if (i < setups) b.stopSession()
    }
    val sc = b.spark.sparkContext
    if (b.trace) sc.addSparkListener(b.ledger)
    val t0 = System.nanoTime()
    try a("workload") match {
      case "search" => Workloads.search(b)
      case "dedup" => Workloads.dedup(b)
      case "analytics" =>
        val src = scala.io.Source.fromFile(a("keys"))
        val keys = try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
          finally src.close()
        Workloads.analytics(b, keys)
    } catch {
      case e: Throwable =>
        b.failures += s"workload threw: $e"
        b.attempted += 1
        e.printStackTrace()
    }
    b.values("run_s") = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graftbench.ListenerDrain(sc)
    b.values("context") = Map(
      "spark_version" -> b.spark.version, "master" -> sc.master,
      "driver_xmx_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "cores" -> b.cores, "java" -> System.getProperty("java.version"))
    b.values("peak_rss_mb") = peakRssMb()
    val json = Json.obj(Seq(
      "session_s" -> b.sessionS.toSeq, "probe_s" -> b.probeS.toSeq,
      "samples" -> b.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "values" -> b.values.toMap,
      "attempted" -> b.attempted, "failures" -> b.failures.toSeq,
      "spans" -> b.tracer.spans.toSeq.map(s =>
        Seq(s.id, s.op, s.name, s.parent, s.start / 1e6, s.end / 1e6)),
      "jobs" -> b.ledger.jobs.toSeq.map(j => Seq(j.id, j.span, j.submit, j.end, j.stages)),
      "stages" -> b.ledger.stages.toSeq.map(s => Seq(s.id, s.attempt, s.submit, s.complete, s.tasks)),
      "tasks" -> b.ledger.tasks.toSeq.map(t => Seq(t.stage, t.launch, t.finish, t.runMs,
        t.cpuNs, t.gcMs, t.shuffleWrite, t.shuffleRead, t.spill))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json)
    b.stopSession()
  }

  /** The set-up probe: one job that reads the input's documents table.
    * The timed loop starts right after it, on a process as cold as a
    * fresh spark-submit (nothing else is warmed up).
    */
  def probe(b: Bench): Unit =
    b.spark.read.parquet(s"${b.inputDir}/documents.parquet").count()

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }
}

/** Minimal JSON writer for the raw record file. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
