package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-text lints over `src/main/scala`: patterns the compiler
  * accepts but the engine must not ship. No SparkSession.
  *
  *  - `UTF8String.compareTo`: in Spark 4.1 it checks a system property
  *    and an environment variable on every call (and throws under
  *    `SPARK_TESTING`) before delegating to `binaryCompare`. In a
  *    per-row kernel that check dominated the profile, so kernels call
  *    `binaryCompare` directly.
  *  - `mustRename(` / `.rename(`: a rename publishes a directory, and
  *    every publish goes through `SegmentedStore.land`/`fold`,
  *    `StoreSwap.swap` or the side-table `StoreSwap.publish`, which own
  *    the crash-safety protocol. Only those two files rename.
  *  - `"spark.graft.*"` literals: every conf key is a second code path
  *    to keep correct, so the set is pinned and a new knob fails here.
  */
class SourceLintSpec extends AnyFunSuite {
  import SourceLintSpec._

  test("lint: no .compareTo( on a UTF8String receiver in src/main/scala") {
    val hits = mainSources.flatMap(f => utf8CompareTo(read(f)).map(n => s"$f:$n"))
    assert(hits.isEmpty, "UTF8String.compareTo (use binaryCompare) at: " + hits.mkString(", "))
  }

  test("lint: no rename in src/main/scala outside StoreSwap and SegmentedStore") {
    val owners = Set("StoreSwap.scala", "SegmentedStore.scala")
    val hits = mainSources.filterNot(f => owners(f.getFileName.toString))
      .flatMap(f => renameCalls(read(f)).map(n => s"$f:$n"))
    assert(hits.isEmpty, "rename outside the store protocol (use SegmentedStore.land/fold, " +
      "StoreSwap.swap or StoreSwap.publish) at: " + hits.mkString(", "))
  }

  test("lint: the spark.graft.* conf keys in src/main/scala are exactly the known knobs") {
    val keys = mainSources.flatMap(f => confKeys(read(f))).toSet
    assert(keys === Knobs, "a conf key was added or dropped; update Knobs only with its reason")
  }

  test("lint: the conf-key detector reads quoted keys on code lines only") {
    assert(confKeys("val K = \"spark.graft.maxBucket\"\nconf.get(\"spark.sql.x\")") ===
      Seq("spark.graft.maxBucket"))
    assert(confKeys("// \"spark.graft.old\" in a comment\n  * `spark.graft.doc` in a scaladoc")
      .isEmpty)
  }

  test("lint: the rename detector flags rename calls, not comments or look-alikes") {
    val flagged = Seq(
      "StoreSwap.mustRename(fs, tmp, dest)",
      "if (!fs.rename(from, to)) throw e",
      "val ok = fs\n  .rename(a, b)",
      "mustRename(fs, a, b)")
    flagged.foreach(src => assert(renameCalls(src).nonEmpty, src))
    assert(renameCalls("val x = 1\nfs.rename(a, b)") === Seq(2))
    val clean = Seq(
      "// fs.rename(a, b) in a comment",
      "  * [[StoreSwap.mustRename]] in a scaladoc, mustRename(fs, a, b)",
      "df.withColumnRenamed(\"a\", \"b\")",
      "val renamed = cols.map(rename)",
      "file.renameTo(other)")
    clean.foreach(src => assert(renameCalls(src).isEmpty, src))
  }

  test("lint: the UTF8String.compareTo detector flags typed receivers, not strings") {
    val flagged = Seq(
      "val c = sa.getUTF8String(0).compareTo(sb.getUTF8String(0))",
      "UTF8String.fromString(t).compareTo(u)",
      "def f(a: UTF8String, b: UTF8String) =\n  a.compareTo(b)",
      "val u = row.getUTF8String(1)\nif (u.compareTo(v) < 0) 1")
    flagged.foreach(src => assert(utf8CompareTo(src).nonEmpty, src))
    assert(utf8CompareTo("val x = 1\nval c = s.getUTF8String(0).compareTo(t)") === Seq(2))
    val clean = Seq(
      "val c = sa.getUTF8String(0).binaryCompare(sb.getUTF8String(0))",
      "val c = \"a\".compareTo(\"b\")",
      "def f(a: String, b: String) = a.compareTo(b)",
      "// u.getUTF8String(0).compareTo(v) in a comment",
      "java.lang.Long.valueOf(x).compareTo(y)")
    clean.foreach(src => assert(utf8CompareTo(src).isEmpty, src))
  }
}

object SourceLintSpec {
  private def read(f: Path): String = new String(Files.readAllBytes(f), "UTF-8")

  /** Every `.scala` file under `src/main/scala`, sorted. */
  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root; no $root here")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty)
    files
  }

  /** The `spark.graft.*` conf keys the engine reads or sets. */
  val Knobs: Set[String] = Set("spark.graft.parallelizeScans", "spark.graft.bpeRounds",
    "spark.graft.maxBucket")

  /** The same pattern `tools/netlines.py` counts knobs with. */
  private val ConfKey = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r

  /** The quoted `spark.graft.*` keys on the non-comment lines of `src`. */
  def confKeys(src: String): Seq[String] =
    src.split("\n", -1).toSeq.filterNot(isComment)
      .flatMap(line => ConfKey.findAllMatchIn(line).map(_.group(1)))

  private val RenameCall = raw"\bmustRename\(|\.rename\(".r

  /** 1-based line numbers of `mustRename(` or `.rename(` calls (a
    * call chained onto the next line counts too). Comment lines are
    * skipped.
    */
  def renameCalls(src: String): Seq[Int] =
    src.split("\n", -1).toSeq.zipWithIndex.collect {
      case (line, i) if !isComment(line) && RenameCall.findFirstIn(line).nonEmpty => i + 1
    }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*"
  /** `name: UTF8String` (parameters, typed vals) anywhere in the file. */
  private val Typed = raw"($Ident)\s*:\s*UTF8String\b".r
  /** `val name = ...getUTF8String(` / `UTF8String.fromString(` etc. */
  private val Bound = raw"\b(?:val|var)\s+($Ident)\s*=\s*[^\n;]*(?:getUTF8String\(|UTF8String\.from\w*\()".r

  /** 1-based line numbers of `.compareTo(` calls whose receiver is a
    * UTF8String: a `getUTF8String(...)` or `UTF8String.from*(...)`
    * call, or a name the file declares as one (typed, or bound from
    * such a call). Comment lines are skipped. A textual check: a
    * receiver whose type is only inferred across files is missed.
    */
  def utf8CompareTo(src: String): Seq[Int] = {
    val names = (Typed.findAllMatchIn(src) ++ Bound.findAllMatchIn(src)).map(_.group(1)).toSet
    src.split("\n", -1).toSeq.zipWithIndex.flatMap { case (line, i) =>
      if (isComment(line)) Nil
      else {
        val hit = raw"\.compareTo\(".r.findAllMatchIn(line).exists { m =>
          receiverHead(line.substring(0, m.start)) match {
            case Some(h) => h == "getUTF8String" || h.startsWith("from") &&
              line.substring(0, m.start).contains("UTF8String.") || names(h)
            case None => false
          }
        }
        if (hit) Seq(i + 1) else Nil
      }
    }
  }

  /** The last name of the receiver expression that ends `before`: a
    * trailing balanced `(...)` is skipped, so `a.getUTF8String(0)`
    * yields `getUTF8String` and `u` yields `u`.
    */
  private def receiverHead(before: String): Option[String] = {
    var j = before.length - 1
    if (j >= 0 && before(j) == ')') {
      var depth = 0
      var done = false
      while (j >= 0 && !done) {
        if (before(j) == ')') depth += 1
        else if (before(j) == '(') { depth -= 1; if (depth == 0) done = true }
        j -= 1
      }
    }
    val end = j + 1
    while (j >= 0 && (before(j).isLetterOrDigit || before(j) == '_')) j -= 1
    if (end > j + 1) Some(before.substring(j + 1, end)) else None
  }
}
