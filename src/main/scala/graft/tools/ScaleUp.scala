package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize an N×-scaled copy of a fixture directory so the scaling
  * claims in the README can be measured one decade past the read-only
  * testdata cap (sf0.1): `runMain graft.tools.ScaleUp <srcDir> <outDir>
  * [copies=10]` writes `<table>.parquet` for every fixture table, and the
  * existing Bench/Probe mains run against `outDir` unchanged.
  *
  * Construction — union of `copies` deterministic clones, entity ids
  * offset per copy so POPULATIONS grow (the TPC-H scaling model: more
  * customers/orders/parts/docs/users, not denser keys):
  *  - key offsets are round powers of ten per key family (custkey 1e5,
  *    orderkey 1e6, partkey 1e5, suppkey 1e4, doc/vec id 1e4, event 1e6,
  *    user 1e4), all ≥ the sf0.1 max, so clones never collide and the
  *    FK graph (order→cust, line→order/part/supp) stays consistent
  *    within each clone;
  *  - document TEXT is rotated per copy (a fixed letter/digit bijection
  *    via `translate`): equality of shingles is preserved WITHIN a copy —
  *    so the near-dup rate, cluster structure, and token statistics scale
  *    exactly linearly — while cross-copy shingles share nothing, so the
  *    scaled corpus doesn't degenerate into 10 exact copies of every doc
  *    (which would square the banded-join work and measure a pathology,
  *    not scale); `source` rotates too (domain population grows);
  *  - embeddings get a per-copy +0.001·k shift on every dimension:
  *    geometry within a copy is identical, copies interleave as a denser
  *    cloud, and top-k never hits 10-way exact-tie plateaus;
  *  - nation/region stay fixed (as in TPC-H itself); ts/value/lang/
  *    event_type distributions are copy-invariant.
  *
  * This is a fixture GENERATOR (like the Avro fixture writer), not a
  * query: it runs once, off the timed path. Each table is one scan per
  * copy of a ≤11 MB source — negligible — and the output is written
  * through the normal distributed writer.
  */
object ScaleUp {

  private val Letters = ('a' to 'z').mkString + ('A' to 'Z').mkString
  private val Digits = "0123456789"

  /** Per-copy bijective character map over the COMBINED 52-letter cycle
    * (lower+upper as one rotation orbit) plus a 10-digit cycle. Copy 0 is
    * the identity (originals survive verbatim, so absolute-id probes like
    * vec_id<3 still hit real rows).
    *
    * Why one 52-cycle and not per-case 26-rotations: two distinct
    * rotations of a single cycle differ at EVERY character (pairwise
    * deranged), so any text containing at least one letter maps to a
    * different string under every k in 0..51 — the earlier per-case
    * construction cycled every 26 copies, and since the fixture docs
    * contain no digits, a 100-copy corpus degenerated into exact-dup
    * classes of ~4 (measured: 500k docs, only 129,792 distinct texts,
    * 723k spurious exact-dup pairs — which bent every dedup scaling
    * probe superlinear for fixture reasons, not plan reasons).
    *
    * CASE-SENSITIVITY ASSUMPTION (block 0 only): rotations r and r+26 of
    * the 52-cycle map each letter to the same letter in the OPPOSITE
    * case, so copies at rotation distance 26 within block 0 are exact
    * duplicates after lower()-folding. No current pair-generating query
    * case-folds text, and ScaleUpSpec pins the assumption; blocks >= 1
    * (k >= 104) use CASELESS CJK alphabets and are immune by
    * construction, so a future lower()-normalizing dedup op can at worst
    * re-collide within the first 104 copies, never across blocks.
    */
  private[graft] def charMap(k: Int): (String, String) = {
    def rotStr(s: String, by: Int) = {
      val n = s.length
      (0 until n).map(i => s((i + by) % n)).mkString
    }
    val block = k / 104
    val alpha = if (block == 0) Letters else blockAlphabet(block)
    (Letters + Digits, rotStr(alpha, k % 52) + rotStr(Digits, k % 10))
  }

  /** Disjoint 52-char target alphabet for transform block g >= 1: a
    * contiguous run of CJK unified ideographs (U+4E00 + (g-1)*52 ..).
    * Caseless (lower/upper are identity — no case-fold degeneracy),
    * single-BMP-codepoint letters (length/substr/translate all treat them
    * as one char in Spark AND DuckDB), and trivially shingle-disjoint
    * from every other block and from block 0's Latin.
    */
  private def blockAlphabet(g: Int): String =
    (0 until 52).map(i => (0x4E00 + (g - 1) * 52 + i).toChar).mkString

  /** Per-copy text transform: within each 104-copy block, 52-cycle
    * rotation for k mod 52, and for k % 104 >= 52 additionally REVERSE
    * the string — reversal preserves every within-copy invariant the
    * scaling model needs (8-gram shingle sets reverse bijectively, so
    * near-dup pairs keep their exact Jaccard; token counts and lengths
    * are unchanged) while sharing no shingles with any unreversed copy
    * on natural text. Block g >= 1 maps letters into its own disjoint
    * caseless alphabet ([[blockAlphabet]]), so blocks share no letter
    * characters at all. 104 copies per block x [[MaxBlocks]] blocks =
    * [[MaxCopies]] pairwise-collision-free copies; k < 104 is
    * bit-identical to the r9 family (existing corpora reproduce).
    */
  private[graft] def copyText(c: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
    val (from, to) = charMap(k)
    val t = translate(c, from, to)
    if (k % 104 >= 52) reverse(t) else t
  }

  /** 100 blocks x 104 = 10400 distinct text transforms — raised from 11
    * blocks in r12 so a fourth TEXT decade (10000 copies = 50M docs) is
    * constructible for dedup_minhash's scale curve; CJK has ~21k contiguous
    * ideographs = ~400 blocks of headroom, and ScaleUpSpec checks the FULL
    * family for pairwise distinctness and shingle disjointness at this
    * size (driver-side, still sub-second). The cap binds text tables only:
    * the r11 fourth-decade EMBEDDINGS fixture (10000 copies, signed
    * permutations never cycle) exceeds any cap legitimately by filtering
    * `documents` out (see main's require).
    */
  private[graft] val MaxBlocks = 100
  private[graft] val MaxCopies = 104 * MaxBlocks

  /** Deterministic signed permutation of the 64 embedding dims for copy
    * k >= 104: Fisher–Yates + sign flips off a fixed-seed LCG
    * (java.util.Random is a specified generator, stable across JVMs).
    */
  private[graft] def signedPerm(k: Int): (Array[Int], Array[Int]) = {
    val rng = new java.util.Random(7700L + k)
    val perm = Array.tabulate(64)(identity)
    for (i <- 63 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val sign = Array.fill(64)(if (rng.nextBoolean()) 1 else -1)
    (perm, sign)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleUp <srcDir> <outDir> [copies=10] [tables=all]")
    val src = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional comma list: regenerate a subset in place (e.g. after a
    // transform fix to one table family) without rewriting the full corpus
    val tableFilter: String => Boolean =
      if (args.length > 3) args(3).split(",").toSet else (_: String) => true
    // 104 transforms per alphabet block × MaxBlocks blocks — past that the
    // text transforms repeat and the corpus degenerates into exact-dup
    // classes (a measured pathology, not scale). ALWAYS scale from the
    // pristine sf0.1 fixture: transforms COMPOSE, so scaling an
    // already-scaled dir re-collides. The cap binds only when a TEXT table
    // (documents) is being scaled: key-offset tables collide at no copy
    // count, and the embedding signed-permutation family (64!·2^64) never
    // cycles — so an embeddings-only fourth-decade fixture may exceed it.
    require(copies <= MaxCopies || (args.length > 3 && !tableFilter("documents")),
      s"copies=$copies > $MaxCopies distinct text transforms (filter out 'documents' to exceed)")
    val spark = graft.LocalSession.start()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // key-family offsets: round powers of ten ≥ each sf0.1 max
    val CUST = 100000L; val ORD = 1000000L; val PART = 100000L
    val SUPP = 10000L; val DOC = 10000L; val VEC = 10000L
    val EVT = 1000000L; val USER = 10000L

    // clones are written in CHUNKS of <= 26 copies (overwrite the first
    // chunk, append the rest): a single copies-wide unionByName is a
    // copies-branch plan, and past a few hundred branches Catalyst
    // analysis/codegen on the driver dwarfs the write itself — chunking
    // keeps every job's plan small regardless of the copy count
    def writeClones(t: String, parts: Int)(xform: (DataFrame, Int) => DataFrame): Unit =
      if (tableFilter(t))
        (0 until copies).grouped(26).zipWithIndex.foreach { case (ks, i) =>
          ks.map(k => xform(read(t), k)).reduce(_ unionByName _)
            .repartition(parts)
            .write.mode(if (i == 0) "overwrite" else "append")
            .parquet(s"$out/$t.parquet")
        }

    // dims held fixed in TPC-H's own scaling model
    Seq("region", "nation").filter(tableFilter).foreach(t =>
      read(t).repartition(1).write.mode("overwrite").parquet(s"$out/$t.parquet"))

    writeClones("customer", 4)((d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * CUST)))
    writeClones("supplier", 2)((d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * SUPP)))
    writeClones("part", 4)((d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * PART)))
    writeClones("orders", 8)((d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * ORD))
        .withColumn("o_custkey", col("o_custkey") + lit(k * CUST)))
    writeClones("lineitem", 16)((d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * ORD))
        .withColumn("l_partkey", col("l_partkey") + lit(k * PART))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * SUPP)))
    writeClones("events", 8)((d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * EVT))
        .withColumn("user_id", col("user_id") + lit(k * USER)))
    writeClones("documents", 8) { (d, k) =>
      d.withColumn("doc_id", col("doc_id") + lit(k * DOC))
        .withColumn("text", copyText(col("text"), k))
        .withColumn("source", copyText(col("source"), k))
    }
    // k < 104: the r9 +0.001·k uniform shift (bit-identical corpora, so
    // every committed probe capture stays reproducible). k >= 104: a
    // per-copy SIGNED PERMUTATION of the 64 dims — the embedding analog of
    // the text transform's disjoint alphabets. An orthogonal transform
    // preserves every within-copy dot product exactly (the copy's near-dup
    // structure scales linearly), while cross-copy cosines are ~random
    // (≈ 0, far below any dup threshold). The shift family can NOT extend
    // that far: all shifted copies of a vector stay mutual near-dups
    // (cosine ≈ 1), so at 1000 copies every pair-emitting embedding query
    // faces Ω(copies²) GENUINE pairs — measured: mine_bitext/sim_knn_graph
    // filled an 80 GB spill disk at sf100 before this transform existed.
    writeClones("embeddings", 8)((d, k) =>
      d.withColumn("vec_id", col("vec_id") + lit(k * VEC))
        .withColumn("embedding",
          if (k < 104)
            expr(s"transform(embedding, x -> CAST(x + ${k}*0.001d AS FLOAT))")
          else {
            val (perm, sign) = signedPerm(k)
            array((0 until 64).map(j =>
              (col("embedding").getItem(perm(j)) * lit(sign(j).toDouble))
                .cast("float")): _*)
          }))

    val counts = graft.Tables.names.filter(tableFilter).map(t =>
      t -> spark.read.parquet(s"$out/$t.parquet").count()).toMap
    println(s"""{"scaled_to":"$out","copies":$copies,"rows":{${
      counts.toSeq.sortBy(_._1).map { case (t, n) => s""""$t":$n""" }.mkString(",")}}}""")
    spark.stop()
  }
}
