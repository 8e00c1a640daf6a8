package graft

import graft.functions.{HashFns, HashImpl, PostingsImpl, VectorImpl}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks (scalacheck) of the pure JVM kernels behind
  * the codegen'd Catalyst expressions — the algebraic laws the
  * engine's DISTRIBUTED correctness rests on, checked over arbitrary
  * inputs rather than the gate corpus:
  *
  *  - the shingle kernel's concatenation identity (what lets it skip
  *    materializing shingle strings),
  *  - MinHash's merge law (what makes `minhash_union` a valid
  *    partial aggregate: sketch of a union = componentwise min),
  *  - SimHash's order-independence (what makes it shuffle-safe),
  *  - the delta-gap codec's roundtrip (what makes a saved index
  *    readable),
  *  - the positional window kernel against brute force (what phrase,
  *    sloppy-phrase and NEAR evaluation rests on),
  *  - the float-vector folds' exact symmetry/self-similarity.
  *
  * No SparkSession: these target the kernels the expressions call
  * from both interpreted eval and generated Java.
  */
class KernelPropertiesSpec extends AnyFunSuite {

  // GRAFT_PROP_N scales the per-property case count for adversarial
  // soak runs (e.g. 20000 — the depth at which the r12 compatibleBatch
  // self-merge bug surfaced under the uniform generator); CI default
  // stays 300 so `sbt test` wall time is unchanged.
  private def check(prop: Prop): Unit = {
    val n = sys.env.get("GRAFT_PROP_N").map(_.toInt).getOrElse(300)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  // -- generators ---------------------------------------------------------

  /** Unicode codepoints incl. astral plane (surrogates excluded). */
  private val genCp: Gen[Int] = Gen.frequency(
    8 -> Gen.choose(32, 126),
    2 -> Gen.choose(0x80, 0xD7FF),
    1 -> Gen.choose(0x10000, 0x10FFFF))
  private val genStr: Gen[String] =
    Gen.listOf(genCp).map(cps => new String(cps.toArray, 0, cps.length))
  private val genToks: Gen[List[String]] = Gen.listOf(genStr)

  private def sArr(ts: Seq[String]) =
    new GenericArrayData(ts.map(s => UTF8String.fromString(s): Any).toArray)
  private def lArr(ls: Seq[Long]) = new GenericArrayData(ls.toArray[Long])
  private def fArr(fs: Seq[Float]) = new GenericArrayData(fs.toArray[Float])

  /** The documented recurrence, folded independently of the kernel. */
  private def refRoll(s: String, mod: Long): Long = {
    var h = 0L
    s.codePoints().toArray.foreach(cp => h = (h * 31L + cp) % mod)
    h
  }

  // -- rolling hash -------------------------------------------------------

  test("roll: matches the documented codepoint fold; range [0, mod)") {
    check(Prop.forAll(genStr) { s =>
      val h = HashImpl.roll(UTF8String.fromString(s), HashFns.P)
      h == refRoll(s, HashFns.P) && h >= 0L && h < HashFns.P
    })
  }

  test("shingleHashes: equals roll of the space-joined 3-token shingle") {
    check(Prop.forAll(genToks) { toks =>
      val got = { val a = HashImpl.shingleHashes(sArr(toks), HashFns.P); a.toLongArray.toSeq }
      val want =
        if (toks.length < 3) Seq.empty[Long]
        else toks.sliding(3).map(sh => refRoll(sh.mkString(" "), HashFns.P)).toSeq
      got == want
    })
  }

  // -- MinHash ------------------------------------------------------------

  /** −1 is the empty-set sentinel; the merge identity maps it to
    * Long.MaxValue (see [[graft.functions.AggFns]]).
    */
  private def m(v: Long): Long = if (v == -1L) Long.MaxValue else v

  test("minhashSig: sketch of a concatenation = componentwise merge-min (the minhash_union law)") {
    val genHs = Gen.listOf(Gen.choose(0L, HashFns.P - 1))
    check(Prop.forAll(genHs, genHs) { (xs, ys) =>
      val sx = HashImpl.minhashSig(lArr(xs), HashFns.MinhashA.toArray, HashFns.MinhashB.toArray, HashFns.P).toLongArray
      val sy = HashImpl.minhashSig(lArr(ys), HashFns.MinhashA.toArray, HashFns.MinhashB.toArray, HashFns.P).toLongArray
      val su = HashImpl.minhashSig(lArr(xs ++ ys), HashFns.MinhashA.toArray, HashFns.MinhashB.toArray, HashFns.P).toLongArray
      su.indices.forall(i => m(su(i)) == math.min(m(sx(i)), m(sy(i))))
    })
  }

  test("minhashSig: permutation-invariant; empty input is all sentinels") {
    val genHs = Gen.nonEmptyListOf(Gen.choose(0L, HashFns.P - 1))
    check(Prop.forAll(genHs) { xs =>
      val a = HashImpl.minhashSig(lArr(xs), HashFns.MinhashA.toArray, HashFns.MinhashB.toArray, HashFns.P).toLongArray.toSeq
      val b = HashImpl.minhashSig(lArr(xs.reverse), HashFns.MinhashA.toArray, HashFns.MinhashB.toArray, HashFns.P).toLongArray.toSeq
      a == b
    })
    assert(HashImpl.minhashSig(lArr(Nil), HashFns.MinhashA.toArray,
      HashFns.MinhashB.toArray, HashFns.P).toLongArray.forall(_ == -1L))
  }

  // -- SimHash ------------------------------------------------------------

  private def refSimhashTf(toks: Seq[String]): Long = {
    val votes = new Array[Long](32)
    toks.groupBy(identity).foreach { case (t, os) =>
      val tf = os.size.toLong
      val h = refRoll(t, HashFns.M32)
      var b = 0
      while (b < 32) {
        if (((h >> b) & 1L) == 1L) votes(b) += tf else votes(b) -= tf
        b += 1
      }
    }
    (0 until 32).foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | (1L << b) else acc)
  }

  test("simhash32: order-independent, 32-bit, equals the tf-weighted formulation") {
    check(Prop.forAll(genToks) { toks =>
      val h = HashImpl.simhash32(sArr(toks), HashFns.M32)
      h == HashImpl.simhash32(sArr(toks.reverse), HashFns.M32) &&
        h >= 0L && h < HashFns.M32 &&
        h == refSimhashTf(toks)
    })
  }

  // -- char n-grams -------------------------------------------------------

  test("charNgrams: count, width, and sliding-window reconstruction (astral-safe)") {
    check(Prop.forAll(genStr, Gen.choose(1, 5)) { (s, n) =>
      val grams = {
        val a = HashImpl.charNgrams(UTF8String.fromString(s), n)
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      }
      val cps = s.codePoints().toArray
      grams.length == math.max(0, cps.length - n + 1) &&
        grams.forall(_.codePoints().count() == n) &&
        grams == cps.sliding(n).filter(_.length == n)
          .map(w => new String(w, 0, w.length)).toSeq
    })
  }

  // -- delta-gap codec ----------------------------------------------------

  test("delta codec: decode∘encode is the identity on sorted positions") {
    val genPos = Gen.listOf(Gen.choose(0L, 1L << 40)).map(_.sorted)
    check(Prop.forAll(genPos) { ps =>
      PostingsImpl.deltaDecode(PostingsImpl.deltaEncode(lArr(ps))).toLongArray.toSeq == ps
    })
  }

  // -- positional window kernel -------------------------------------------

  /** ∃ p0 ∈ ls(0), p1 ∈ ls(1), … with every step p(i) − p(i−1) in [lo, hi],
    * by enumeration. */
  private def bruteChain(ls: List[List[Long]], lo: Long, hi: Long): Boolean = {
    def from(prev: Long, rest: List[List[Long]]): Boolean = rest match {
      case Nil => true
      case h :: t => h.exists(p => p - prev >= lo && p - prev <= hi && from(p, t))
    }
    ls.head.exists(p => from(p, ls.tail))
  }

  test("window kernel: chain equals brute force on random sorted lists (empty, duplicates, boundary gaps)") {
    // a narrow position range makes duplicates, exact-boundary gaps and
    // empty lists frequent; lo may be negative or equal to hi
    val genList = Gen.frequency(1 -> Gen.const(Nil),
      6 -> Gen.listOf(Gen.choose(0L, 10L)).map(_.sorted))
    val genCase = for {
      n <- Gen.choose(1, 4)
      ls <- Gen.listOfN(n, genList)
      lo <- Gen.choose(-3L, 3L)
      w <- Gen.choose(0L, 3L)
    } yield (ls, lo, lo + w)
    check(Prop.forAll(genCase) { case (ls, lo, hi) =>
      PostingsImpl.chain(ls.map(lArr).toArray, lo, hi) == bruteChain(ls, lo, hi)
    })
    // the window's edges are inclusive on both sides
    def two(a: Long, b: Long, lo: Long, hi: Long) =
      PostingsImpl.chain(Array(lArr(Seq(a)), lArr(Seq(b))), lo, hi)
    assert(two(0, 1, 1, 1) && two(0, 3, 1, 3) && two(5, 2, -3, -1))
    assert(!two(0, 2, 1, 1) && !two(0, 4, 1, 3) && !two(0, 0, 1, 3) && !two(5, 1, -3, -1))
  }

  test("window kernel: within looks its keys up in the positions map, absent key = false") {
    import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
    val m = new ArrayBasedMapData(sArr(Seq("key", "order", "the")),
      new GenericArrayData(Array[Any](lArr(Seq(0L, 7L)), lArr(Seq(1L, 9L)), lArr(Seq(3L, 4L)))))
    def keys(ks: String*) = ks.map(UTF8String.fromString).toArray
    assert(PostingsImpl.within(m, keys("key", "order"), 1, 1))
    assert(!PostingsImpl.within(m, keys("order", "key"), 1, 1))
    assert(PostingsImpl.within(m, keys("order", "key"), -1, -1))
    assert(PostingsImpl.within(m, keys("the", "the"), 1, 1))
    assert(!PostingsImpl.within(m, keys("key", "absent"), -100, 100))
    assert(PostingsImpl.within(m, keys("key"), 0, 0))
  }

  // -- vector folds -------------------------------------------------------

  private val genVec: Gen[List[Float]] =
    Gen.listOf(Gen.choose(-100.0f, 100.0f))

  test("dot: exactly symmetric (same fold order, commutative products)") {
    check(Prop.forAll(genVec, genVec) { (a, b) =>
      VectorImpl.dot(fArr(a), fArr(b)) == VectorImpl.dot(fArr(b), fArr(a))
    })
  }

  test("cosine: self-similarity 1 for nonzero vectors, 0 for zero; |cos| <= 1+eps") {
    check(Prop.forAll(genVec, genVec) { (a, b) =>
      val c = VectorImpl.cosine(fArr(a), fArr(b))
      val self = VectorImpl.cosine(fArr(a), fArr(a))
      val zero = a.forall(_ == 0.0f)
      math.abs(c) <= 1.0 + 1e-9 &&
        (if (zero) self == 0.0 else math.abs(self - 1.0) < 1e-12)
    })
  }

  test("simhash32: invariant under corpus duplication (2x tokens, same sign votes)") {
    check(Prop.forAll(genToks) { toks =>
      HashImpl.simhash32(sArr(toks ++ toks), HashFns.M32) ==
        HashImpl.simhash32(sArr(toks), HashFns.M32)
    })
  }

  test("lshBucket: invariant under exact power-of-two scaling; nBits-bounded") {
    check(Prop.forAll(genVec) { v =>
      val b1 = VectorImpl.lshBucket(fArr(v), 4)
      val b2 = VectorImpl.lshBucket(fArr(v.map(_ * 4.0f)), 4)
      b1 == b2 && b1 >= 0L && b1 < 16L
    })
  }

  test("sparseDotW: merge walk == map-based dot over UTF-8 byte-sorted vectors") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    // ASCII, CJK, U+FF01 and U+1F600: UTF-16 order puts the astral
    // U+1F600 (a surrogate pair, 0xD83D...) below U+FF01, while UTF-8
    // bytes (0xF0... vs 0xEF...) put it above, so a comparator in the
    // wrong order skips shared terms on these vectors
    val pool = Seq("a", "ab", "b", "z", "\u4e2d", "\u6587", "\u4e2d\u6587", "\uFF01", "a\uFF01",
      "\uD83D\uDE00", "a\uD83D\uDE00", "\uD83D\uDE00\u4e2d")
    val bytesOrder: Ordering[String] = (x: String, y: String) => java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val genVecW: Gen[Seq[(String, Double)]] = for {
      terms <- Gen.someOf(pool)
      ws <- Gen.listOfN(terms.size, Gen.choose(-4.0, 4.0))
    } yield terms.toSeq.sorted(bytesOrder).zip(ws)
    def arr(v: Seq[(String, Double)]) = new GenericArrayData(v.map { case (t, w) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(t), w)): Any }.toArray)
    check(Prop.forAll(genVecW, genVecW) { (a, b) =>
      val bm = b.toMap
      // ascending-term accumulation, as the kernel's walk sums
      val want = a.foldLeft(0.0) { case (s, (t, w)) => bm.get(t).fold(s)(s + w * _) }
      VectorImpl.sparseDotW(arr(a), arr(b)) == want
    })
    val all = pool.sorted(bytesOrder).map(_ -> 1.0)
    assert(VectorImpl.sparseDotW(arr(all), arr(all)) == pool.size.toDouble)
  }

  test("value-graph reachability law: Hamming<=1 components over values == over docs") {
    // The law Dedup.neardupComponents rests on: computing connected
    // components of the doc-level Hamming<=1 graph on the
    // DISTINCT-VALUE graph (same-value docs = one supernode with the
    // min doc as canonical; cross-value edges = single bit flips)
    // yields the exact doc-level component map. Values are drawn from
    // a pool built by <=2 bit flips off 3 random seeds, forcing both
    // same-value supernodes and hamming-1/2 cross-value structure
    // (distance-2 pairs must NOT link directly but may via a bridge).
    def docLevel(docs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val inGraph = scala.collection.mutable.HashSet[Long]()
      for { (da, va) <- docs; (db, vb) <- docs if da < db
            if java.lang.Long.bitCount(va ^ vb) <= 1 } {
        union(da, db); inGraph += da; inGraph += db
      }
      inGraph.iterator.map(d => d -> find(d)).toMap
    }
    def valueLevel(docs: Seq[(Long, Long)]): Map[Long, Long] = {
      val groups = docs.groupBy(_._2).map { case (v, ds) =>
        v -> (ds.map(_._1).min, ds.size) }
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val linked = scala.collection.mutable.HashSet[Long]()
      for { (v, (canon, _)) <- groups; b <- 0 until 32
            v2 = v ^ (1L << b); g2 <- groups.get(v2) } {
        union(canon, g2._1); linked += v; linked += v2
      }
      docs.iterator.collect { case (d, v)
        if groups(v)._2 >= 2 || linked(v) =>
        d -> find(groups(v)._1)
      }.toMap
    }
    val genSeed = Gen.choose(Long.MinValue, Long.MaxValue).map(_ & 0xFFFFFFFFL)
    val genCase = for {
      seeds <- Gen.listOfN(3, genSeed)
      pool = seeds.flatMap { s =>
        s :: (0 until 32 by 5).map(b => s ^ (1L << b)).toList :::
          List(s ^ 3L, s ^ 5L) // some distance-2 values
      }
      n <- Gen.choose(1, 60)
      vals <- Gen.listOfN(n, Gen.oneOf(pool))
    } yield vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    check(Prop.forAll(genCase) { docs => docLevel(docs) == valueLevel(docs) })
  }

  test("sq8Dequant: reconstruction error bounded by half a quantization step") {
    // per-dimension (mn, mx) envelopes with x inside them
    val genDim = for {
      mn <- Gen.choose(-50.0f, 50.0f)
      w <- Gen.choose(1e-3f, 100.0f)
      t <- Gen.choose(0.0f, 1.0f)
    } yield (mn, mn + w, mn + t * w)
    check(Prop.forAll(Gen.listOf(genDim)) { dims =>
      val (mns, mxs, xs) = (dims.map(_._1), dims.map(_._2), dims.map(_._3))
      val out = VectorImpl.sq8Dequant(fArr(xs), fArr(mns), fArr(mxs))
      (0 until out.numElements()).forall { i =>
        val step = (mxs(i) - mns(i)).toDouble / 255.0
        // the kernel's contract is FLOAT output (bitwise cross-engine
        // collapse), so the true bound is the double-decode half-step
        // PLUS the final cast's half-ulp: a narrow envelope at large
        // magnitude (w ~ 1e-3 at mn ~ 50) has step/2 ~ 2e-9 while
        // ulp(50f)/2 ~ 1.9e-6 — the 20k-case soak caught the old
        // tolerance omitting exactly that term (error model bug in
        // the LAW; the kernel is correct)
        math.abs(out.getFloat(i).toDouble - xs(i).toDouble) <=
          step * 0.5 + step * 1e-3 +
            0.5 * math.ulp(out.getFloat(i)).toDouble + 1e-6
      }
    })
  }

  // -- BPE trainer laws ----------------------------------------------------

  import BpeReference.{Word, applyMerges, pairCounts, ranked}

  /** The batched core ([[operators.TextAnalysis.compatibleBatch]] per
    * scan, one greedy map-lookup fold per batch), mirrored locally. */
  private def batched(words0: Seq[Word], k: Int): Seq[(String, String, Long)] = {
    var words = words0
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var done = false
    while (out.size < k && !done) {
      val top = ranked(pairCounts(words)).take(operators.TextAnalysis.BpeBatchMax + 1)
      if (top.isEmpty) done = true
      else {
        val batch = operators.TextAnalysis.compatibleBatch(top, k - out.size)
        out ++= batch
        words = applyMerges(words,
          batch.map { case (l, r, _) => (l, r) -> (l + r) }.toMap)
      }
    }
    out.toSeq
  }

  // symbol alphabets: ASCII plus one symbol at U+FF01 (≥ U+E000) and one
  // supplementary-plane symbol (a surrogate pair), whose UTF-16 order
  // and code-point order disagree
  private val bpeSyms = Seq("a", "b", "c", "d", "e", "f", "\uFF01", "\uD83D\uDE00")
  private val bpeRunSyms = Seq("a", "b", "c", "\uFF01", "\uD83D\uDE00")
  private val genBpeTable: Gen[Seq[Word]] = {
    val genWord = for {
      len <- Gen.choose(1, 10)
      cs <- Gen.listOfN(len, Gen.oneOf(bpeSyms))
      cnt <- Gen.choose(1L, 9L)
    } yield (cs.toVector, cnt)
    Gen.choose(3, 20).flatMap(n => Gen.listOfN(n, genWord))
      .map(_.groupBy(_._1).map { case (syms, g) => (syms, g.map(_._2).sum) }.toSeq)
  }
  // BIASED toward runs of identical symbols (self-merge creation
  // chains), where the uniform generator almost never lands
  private val genBpeRunTable: Gen[Seq[Word]] = {
    val genRunWord = for {
      nRuns <- Gen.choose(1, 4)
      runs <- Gen.listOfN(nRuns, for {
        c <- Gen.oneOf(bpeRunSyms)
        len <- Gen.choose(1, 7)
      } yield List.fill(len)(c))
      cnt <- Gen.choose(1L, 9L)
    } yield (runs.flatten.toVector, cnt)
    Gen.choose(2, 12).flatMap(n => Gen.listOfN(n, genRunWord))
      .map(_.groupBy(_._1).map { case (syms, g) => (syms, g.map(_._2).sum) }.toSeq)
  }
  // deterministic tables for the SELF-MERGE creation case the uniform
  // generator only hits ~0.05% of the time: a self-merge (a,a)→aa on
  // runs of ≥3 identical symbols CREATES (aa,a)/(aa,aa) pairs with
  // counts up to ⌊f/2⌋, which must dominate-truncate any later
  // same-batch candidate at or below that count
  private def W(s: String, c: Long): Word = (s.split(" ").toVector, c)
  private val selfMergeTables: Seq[Seq[Word]] = Seq(
    // freq(a,a)=18; created (aa,a)=9 > freq(c,d)=5 — the batch must
    // NOT commit (c,d) ahead of (aa,a)
    Seq(W("a a a", 9), W("c d", 5)),
    // created count exactly EQUAL to the competitor: ⌊16/2⌋=8=(c,d)
    Seq(W("a a a", 8), W("c d", 8)),
    // runs of 4: (a,a)=12, created (aa,aa)=4 vs (c,d)=3
    Seq(W("a a a a", 4), W("c d", 3)),
    // two self-merges in one window
    Seq(W("a a a", 6), W("b b b", 5), W("c d", 4)),
    // odd/even mixed runs with boundary symbols
    Seq(W("x a a a a a y", 5), W("c d", 4), W("e f", 2)),
    // self-merge output chains: aa then (aa,a) then (aaa,*)
    Seq(W("a a a a a a a", 3), W("c d", 2))
  )

  test("compatibleBatch: batched BPE == one-at-a-time BPE on random word tables") {
    // The sequence-equivalence LAW behind the trainer's overflow
    // fallback (operators.TextAnalysis.bpeBatchedCore): per scan, the
    // accepted prefix of (freq DESC, l, r)-sorted candidates —
    // symbol-disjoint, strictly dominating anything a merge could
    // create — applied in ONE greedy map-lookup fold must reproduce
    // the one-merge-per-round trainer merge-for-merge, ties and
    // degenerate tails included. Checked with a PURE local simulator
    // (no Spark) that mirrors the driver/fold split exactly, against
    // the reference trainer the crafted-corpus specs use.
    check(Prop.forAll(genBpeTable, Gen.choose(1, 25)) { (table, k) =>
      batched(table, k) == BpeReference.train(table, k)
    })
    for (table <- selfMergeTables; k <- 1 to 6) {
      assert(batched(table, k) == BpeReference.train(table, k),
        s"self-merge regression: table=$table k=$k " +
          s"batched=${batched(table, k)} sequential=${BpeReference.train(table, k)}")
    }
    check(Prop.forAll(genBpeRunTable, Gen.choose(1, 25)) { (table, k) =>
      batched(table, k) == BpeReference.train(table, k)
    })
  }

  test("hotSliceKernel: hot-slice trainer == one-at-a-time BPE across windows, caps, and fallback") {
    // The sequence-equivalence LAW behind the BPE trainer
    // (operators.TextAnalysis.bpeTrainerOf): per super-round, pull the
    // top-W candidate window + every word containing a window pair,
    // run EXACT sequential BPE locally (sound against un-pulled pairs
    // via the window's tail bound — un-windowed counts only ever
    // DECREASE, created pairs involve a just-merged symbol and are
    // tracked exactly), write back words and pair deltas. The
    // simulator below mirrors the cluster orchestration exactly —
    // including the INCREMENTAL pair frame (base + deltas, never
    // re-aggregated) and the slice-cap fallback to the batched core —
    // so a delta bug cannot hide behind a recount.
    def hot(words0: Seq[Word], k: Int, w: Int, cap: Int): Seq[(String, String, Long)] = {
      var words: Map[String, Word] =
        words0.map(t => (t._1.mkString(""), t)).toMap
      var pairs: Map[(String, String), Long] = pairCounts(words.values.toSeq)
      val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      var exhausted = false
      var fell = false
      while (out.size < k && !exhausted && !fell) {
        val top = ranked(pairs).take(w + 1)
        if (top.isEmpty) exhausted = true
        else {
          val window = top.take(w)
          val tail = if (top.size > w) top.last._3 else -1L
          val wset = window.map { case (l, r, _) => (l, r) }.toSet
          val slice = words.filter { case (_, (s, _)) =>
            s.zip(s.drop(1)).exists(wset) }
          if (slice.size > cap) {
            fell = true
            out ++= batched(words.values.toSeq, k - out.size)
          } else {
            val (got, changed, deltas) = operators.TextAnalysis.hotSliceKernel(
              slice, window, tail, k - out.size)
            out ++= got
            words = words ++ changed.map { case (t, s) => t -> ((s, words(t)._2)) }
            pairs = (pairs.keySet ++ deltas.keySet).iterator.map { p =>
              p -> (pairs.getOrElse(p, 0L) + deltas.getOrElse(p, 0L))
            }.filter(_._2 > 0).toMap
          }
        }
      }
      out.toSeq
    }
    // forAllNoShrink: a failing word table is reported as drawn.
    // Shrinking re-runs the whole simulator on every candidate table,
    // which let a broken kernel stall the suite instead of failing it.
    // windows down to 1 force the tail-bound stop on nearly every
    // merge (max super-round churn); 64 usually holds every live pair
    check(Prop.forAllNoShrink(genBpeTable, Gen.choose(1, 25), Gen.oneOf(1, 2, 3, 8, 64)) {
      (table, k, w) => hot(table, k, w, Int.MaxValue) == BpeReference.train(table, k)
    })
    // forced slice-cap fallback mid-run (cap 0 falls back on round 1;
    // small caps fall back once the slice grows past them)
    check(Prop.forAllNoShrink(genBpeTable, Gen.choose(1, 25), Gen.oneOf(0, 1, 3)) {
      (table, k, cap) => hot(table, k, 4, cap) == BpeReference.train(table, k)
    })
    // runs of identical symbols: self-merge creation chains
    // ((a,a)→aa, then (aa,a)/(aa,aa)) under tight windows
    check(Prop.forAllNoShrink(genBpeRunTable, Gen.choose(1, 25), Gen.oneOf(1, 2, 8)) {
      (table, k, w) => hot(table, k, w, Int.MaxValue) == BpeReference.train(table, k)
    })
    // the deterministic self-merge regression tables, at every window
    for (table <- selfMergeTables; k <- 1 to 6; w <- Seq(1, 2, 8)) {
      assert(hot(table, k, w, Int.MaxValue) == BpeReference.train(table, k),
        s"hot-slice regression: table=$table k=$k w=$w " +
          s"hot=${hot(table, k, w, Int.MaxValue)} sequential=${BpeReference.train(table, k)}")
    }
  }
}
