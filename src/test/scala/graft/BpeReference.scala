package graft

import java.nio.charset.StandardCharsets.UTF_8

/** The reference BPE trainer every BPE spec checks the engine against:
  * plain Scala, one merge per round, a full pair recount per round,
  * written independently of the engine's kernels. Words split into one
  * symbol per code point, as Spark's `split(term, "")` does, so a
  * supplementary-plane character stays one symbol. Ties break
  * (freq DESC, l, r) in code-point order — the order of UTF-8 bytes,
  * which is how Spark's `orderBy` and DuckDB's `ORDER BY` compare
  * strings.
  */
object BpeReference {
  type Word = (Vector[String], Long)

  /** A word's base symbols: one per code point. */
  def symbols(w: String): Vector[String] =
    w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  /** Strings compared by their UTF-8 bytes, unsigned. */
  val codePointOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
  }

  def pairCounts(words: Seq[Word]): Map[(String, String), Long] = {
    val pc = scala.collection.mutable.Map[(String, String), Long]()
    words.foreach { case (syms, c) =>
      syms.zip(syms.drop(1)).foreach(p => pc(p) = pc.getOrElse(p, 0L) + c)
    }
    pc.toMap
  }

  /** Pair candidates as (l, r, freq), sorted (freq DESC, l, r) — the
    * order the engine's candidate windows are fetched in. */
  def ranked(pc: Map[(String, String), Long]): Seq[(String, String, Long)] =
    pc.toSeq.map { case ((l, r), f) => (l, r, f) }
      .sorted(Ordering.by((t: (String, String, Long)) => (-t._3, t._1, t._2))(
        Ordering.Tuple3(Ordering.Long, codePointOrder, codePointOrder)))

  /** Greedy left-to-right rewrite of every word by a merge map: after a
    * merge the scan continues AFTER the merged token. */
  def applyMerges(words: Seq[Word], mp: Map[(String, String), String]): Seq[Word] =
    words.map { case (syms, c) =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      syms.foreach { x =>
        if (out.nonEmpty && mp.contains((out.last, x)))
          out(out.length - 1) = mp((out.last, x))
        else out += x
      }
      (out.toVector, c)
    }

  /** Up to `k` merges (l, r, freq) of one-at-a-time BPE over a word
    * table; stops early when no adjacent pair is left. */
  def train(words0: Seq[Word], k: Int): Seq[(String, String, Long)] = {
    var words = words0
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var done = false
    while (out.size < k && !done) {
      ranked(pairCounts(words)).headOption match {
        case None => done = true
        case Some((l, r, f)) =>
          out += ((l, r, f))
          words = applyMerges(words, Map((l, r) -> (l + r)))
      }
    }
    out.toSeq
  }

  /** The merge table (round, l, r, merged, freq) `bpeTrainOf` must
    * return for documents with these texts, tokenized on whitespace. */
  def trainTexts(texts: Seq[String], k: Int): Seq[(Long, String, String, String, Long)] = {
    val words = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).toSeq.map { case (w, g) => (symbols(w), g.size.toLong) }
    train(words, k).zipWithIndex.map { case ((l, r, f), i) =>
      (i + 1L, l, r, l + r, f)
    }
  }
}
