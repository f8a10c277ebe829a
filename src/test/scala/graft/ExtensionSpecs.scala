package graft

import graft.functions.{RollingHash, Similarity, TextFns}
import graft.operators.{AsOfJoin, MinHashLsh, Multimodal, MultimodalStub, SimHash}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MinHashLshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals and shuffles"),
    (4L, "another unrelated text mentioning parquet row groups and column statistics")
  ).toDF("doc_id", "text")

  test("near-dup pair found, unrelated pairs absent") {
    val pairs = MinHashLsh.nearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L || p._2 == 4L))
  }

  test("estimated jaccard tracks exact jaccard for a near-dup") {
    val exact = docs.filter($"doc_id" isin (1L, 2L))
      .select(TextFns.wordShingles("text", 3).as("sh"))
      .collect().map(_.getSeq[String](0).toSet)
    val exactJ = exact(0).intersect(exact(1)).size.toDouble / exact(0).union(exact(1)).size
    val est = MinHashLsh.nearDuplicates(docs, "doc_id", "text", 0.1)
      .filter($"id1" === 1 && $"id2" === 2)
      .head().getDouble(2)
    assert(math.abs(est - exactJ) < 0.25, s"est=$est exact=$exactJ")
  }

  test("signatures are deterministic across runs") {
    val s1 = MinHashLsh.signatures(docs, "doc_id", "text").collect().map(_.toString).sorted
    val s2 = MinHashLsh.signatures(docs, "doc_id", "text").collect().map(_.toString).sorted
    assert(s1.sameElements(s2))
  }

  test("one shared shingle cannot collide unrelated docs (mod-p regression)") {
    import org.apache.spark.sql.functions._
    // adversarially pick the trigram with the smallest base hashes: the
    // pre-mod-p family h1 + k*h2 let such a shingle win min() at EVERY k, so
    // every doc containing it shared the whole signature and all LSH bands
    val cands = (0 until 500).map(i => s"t$i u$i v$i").toDF("shingle")
    val (h1, h2) = graft.functions.Hashing.minhashBasePortable(col("shingle"))
    val tok = cands.select(col("shingle"), (h1 + lit(63L) * h2).as("m"))
      .orderBy(col("m")).head().getString(0)
    val unrelated = (1 to 40).map(d =>
      (d.toLong, s"$tok " + (1 to 10).map(w => s"w${d}x$w").mkString(" ")))
      .toDF("doc_id", "text")
    val sigs = MinHashLsh.signatures(unrelated, "doc_id", "text")
    val n = MinHashLsh.candidatePairs(sigs, "doc_id").count()
    assert(n == 0, s"$n spurious candidate pairs from one shared shingle")
  }
}

/** Bucket-salting must be invisible to results: on a skewed fixture (one
  * boilerplate text shared by many docs → one hot bucket in every band), the
  * candidate-pair set with a tiny bucketCap (forcing fan > 1) must equal the
  * unsalted set (cap = ∞ → fan = 1 everywhere).
  */
class SkewSaltingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val skewed = {
    val hot = (1L to 60L).map(i =>
      (i, "identical boilerplate header repeated across many documents verbatim every time"))
    val pairs = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (102L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (103L, "spark catalyst optimizer rules rewrite logical plans before physical planning"),
      (104L, "spark catalyst optimizer rules rewrite logical plans before physical selection"))
    (hot ++ pairs).toDF("doc_id", "text")
  }

  test("salted candidate-pair set equals unsalted on a hot bucket") {
    val sigs = MinHashLsh.signatures(skewed, "doc_id", "text").localCheckpoint()
    def pairSet(cap: Int) =
      MinHashLsh.candidatePairs(sigs, "doc_id", bucketCap = cap)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unsalted = pairSet(Int.MaxValue)
    val salted = pairSet(7) // hot bucket (60 docs) → fan = 9
    assert(salted == unsalted,
      s"salting changed the pair set: only-salted=${salted -- unsalted} only-unsalted=${unsalted -- salted}")
    // sanity: the hot bucket really produced its pairs
    assert(unsalted.size >= 60 * 59 / 2)
  }
}

/** The shared BucketJoin engine must be invisible to results on a skewed
  * sign-LSH fixture: many identical embeddings land in ONE bucket (the
  * near-constant-corpus hazard from dedup_embed_cosine / sim_pairs_label0);
  * a tiny bucketCap (fan > 1) must yield exactly the unsalted pair set.
  */
class BucketJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val skewedBuckets = {
    // 50 ids in hot bucket 7, a few pairs spread over buckets 1..3
    val hot = (1L to 50L).map(i => (i, 7))
    val cold = Seq((101L, 1), (102L, 1), (103L, 2), (104L, 2), (105L, 3))
    (hot ++ cold).toDF("vec_id", "bucket")
  }

  test("salted pair set equals unsalted on a hot sign-LSH bucket") {
    def pairSet(cap: Int) = graft.operators.BucketJoin
      .saltedCandidatePairs(skewedBuckets, "vec_id", Seq("bucket"), bucketCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unsalted = pairSet(Int.MaxValue)
    val salted = pairSet(6) // hot bucket (50 rows) → fan = 9
    assert(salted == unsalted,
      s"salting changed the pair set: only-salted=${salted -- unsalted} only-unsalted=${unsalted -- salted}")
    assert(unsalted.size == 50 * 49 / 2 + 2) // hot-bucket pairs + (101,102),(103,104)
  }

  test("multi-column bucket key (band, bucket) preserves the pair set") {
    val banded = skewedBuckets.select(
      $"vec_id", explode(array(lit(0), lit(1))).as("band"), $"bucket")
    def pairSet(cap: Int) = graft.operators.BucketJoin
      .saltedCandidatePairs(banded, "vec_id", Seq("band", "bucket"), bucketCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(4) == pairSet(Int.MaxValue))
  }

  test("dedup_embed_cosine and sim_pairs_label0 pair on bucket equi-joins, never cartesian") {
    // r11: the pair queries generate candidates inside a bucket-keyed equi
    // self-join (embeddings ride the bucket shuffle; pairs never shuffle) —
    // the plans must show a real join key, not a cartesian product, at any
    // corpus where LSH collapses buckets (driver re-verifies results)
    val q1 = SparkEntry.queries("dedup_embed_cosine")(spark, TestSpark.sf)
    val q2 = SparkEntry.queries("sim_pairs_label0")(spark, TestSpark.sf)
    Seq(q1, q2).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p.take(300))
    }
  }
}

/** The curation funnel's keep-one stage must actually drop byte-identical
  * copies — the fixture corpus has no exact dups, so the Declared query can't
  * show it (n_kept == n_token_window there is correct, not vacuous).
  */
class CurateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exact duplicates collapse to one kept doc; failed-gate docs never counted") {
    val en = "the quick brown fox jumps over the lazy dog and it is a fine day " +
      "in the sun with a cat and a dog on the hill it is good"
    val docs = Seq(
      (1L, en), (2L, en), (3L, en),                    // 3 identical, pass gates
      (4L, en + " extra words here to differ a bit"),  // distinct, passes
      (5L, "le chat est sur la table et il est un bon chat que fait le chien"), // fr
      (6L, "a b")                                      // en-ish but under token window
    ).toDF("doc_id", "text")
    val r = graft.queries.TextQ.curateFunnel(docs).head()
    val (nDocs, nLang, nQual, nWin, nKept) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nDocs == 6)
    assert(nLang == 5)          // fr doc gated out
    assert(nWin == 4)           // "a b" out of the token window
    assert(nKept == 2, s"dedup should keep 1 of the 3 copies + the distinct doc (got $nKept)")
    assert(nQual >= nWin && nLang >= nQual)
  }
}

/** Incremental dedup must reject on BOTH paths: fingerprints already in the
  * index, and duplicate fingerprints within the batch itself.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rejects index hits and in-batch dups; keeps first-id of novel fps") {
    val index = Seq("fpA", "fpB").toDF("fp")
    val batch = Seq(
      (10L, "fpA"), // already in index → dropped
      (11L, "fpC"), // novel, first → kept
      (12L, "fpC"), // in-batch dup → dropped
      (13L, "fpD")  // novel → kept
    ).toDF("doc_id", "fp")
    val got = graft.operators.IncrementalDedup
      .newUnique(batch, index, "doc_id", "fp")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == Set(11L, 13L))
  }
}

/** Connected components must capture TRANSITIVE near-duplication: a chain
  * A~B, B~C (A~C never emitted as a pair) is one cluster, canonical = min id.
  */
class DedupClustersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("multi-hop chain collapses to one cluster; singletons keep themselves") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    // chain 1-2-3, pair 4-5 (given in reversed order), 9 isolated
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 4L)).toDF("id1", "id2")
    val got = graft.operators.DedupClusters
      .connectedComponents(nodes, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("long chain converges (diameter > 1 rounds) and star graph in one") {
    val n = 12L
    val nodes = (1L to n).toDF("id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id1", "id2")
    val gotChain = graft.operators.DedupClusters
      .connectedComponents(nodes, "id", chain)
      .collect().map(r => r.getLong(1)).toSet
    assert(gotChain == Set(1L)) // everything reaches the minimum
  }

  test("300-node chain collapses in O(log diameter) rounds (pointer jumping)") {
    // plain min-label propagation moves the min ONE hop per round — a
    // 300-node chain would need 299 rounds. The pointer-jumping shortcut
    // compounds distance geometrically; 12 rounds is far above log2(300)≈8.2
    // but far below the linear bound, so passing proves the log behavior.
    val n = 300L
    val nodes = (1L to n).toDF("id")
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id1", "id2")
    val (labels, rounds) = graft.operators.DedupClusters
      .connectedComponentsWithRounds(nodes, "id", chain, maxIter = 12)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 300 && got.forall(_._2 == 1L))
    assert(rounds <= 12, s"chain took $rounds rounds")
  }
}

class SimHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("near-identical docs have close fingerprints, different docs don't") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "parquet shuffle broadcast join codegen catalyst tungsten")
    ).toDF("doc_id", "text")
    val fp = SimHash.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(1L), fp(2L)) < hamming(fp(1L), fp(3L)))
    assert(hamming(fp(1L), fp(2L)) <= 8)
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine matches hand computation") {
    val df = Seq((Array(1.0f, 0.0f, 1.0f), Array(1.0f, 1.0f, 0.0f))).toDF("a", "b")
    val cos = df.select(Similarity.cosine($"a", $"b")).head().getDouble(0)
    assert(math.abs(cos - 0.5) < 1e-12) // dot=1, norms sqrt(2)*sqrt(2)
  }

  test("lsh bucket: identical vectors collide, orthogonal-ish vectors exist in other buckets") {
    val planes = Similarity.planes(8, 4)
    val df = Seq(
      (1L, Array(0.5f, -0.25f, 0.75f, 0.1f)),
      (2L, Array(0.5f, -0.25f, 0.75f, 0.1f)),
      (3L, Array(-0.5f, 0.25f, -0.75f, -0.1f))
    ).toDF("id", "v")
    val b = df.select($"id", Similarity.lshBucket($"v", planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b(1L) == b(2L))
    assert(b(1L) != b(3L)) // exact negation flips every sign bit
  }

  test("codegen CosineSim is bit-identical to the HOF formulation on the fixture") {
    val e = Tables.t(spark, TestSpark.sf, "embeddings").limit(500)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val both = e.crossJoin(org.apache.spark.sql.functions.broadcast(q))
      .select(
        Similarity.cosine($"embedding", $"qv").as("native"),
        Similarity.cosineHof($"embedding", $"qv").as("hof"))
    assert(both.filter(!($"native" <=> $"hof")).isEmpty)
  }

  test("CosineSim participates in whole-stage codegen; null/length semantics match HOF") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c"), Similarity.cosineHof($"a", $"b").as("h"))
    val row = df.head()
    assert(row.isNullAt(0) && row.isNullAt(1)) // length mismatch → null, both forms
    val p = Tables.t(spark, TestSpark.sf, "embeddings")
      .select(Similarity.cosine($"embedding", $"embedding"))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(") && p.contains("cosine_sim"), p.take(500))
  }

  test("CosineSim zero-norm and empty vectors yield null (not NaN/Inf, not ANSI error)") {
    // under ANSI mode (Spark 4 default) the HOF Divide would RAISE
    // DIVIDE_BY_ZERO here; the native expression degrades to null instead
    // (try_divide semantics) so a single degenerate embedding can't kill a
    // 100 TB scan
    val df = Seq(
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f)),   // zero left norm
      (Array(1.0f, 2.0f), Array(0.0f, 0.0f)),   // zero right norm
      (Array.empty[Float], Array.empty[Float])) // empty → both norms zero
      .toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c"))
    df.collect().foreach { r =>
      assert(r.isNullAt(0), s"native returned ${r.get(0)} for a zero-norm input")
    }
  }

  test("codegen SignLshBucket equals the HOF formulation on the fixture") {
    val planes = Similarity.planes(nPlanes = 8, dim = 64)
    val e = Tables.t(spark, TestSpark.sf, "embeddings").limit(500)
    val both = e.select(
      Similarity.lshBucket($"embedding", planes).as("native"),
      Similarity.lshBucketHof($"embedding", planes).as("hof"))
    assert(both.filter(!($"native" <=> $"hof")).isEmpty)
    val p = e.select(Similarity.lshBucket($"embedding", planes))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(") && p.contains("sign_lsh_bucket"), p.take(500))
  }

  test("LSH cell probe retrieves planted near-duplicates (its actual contract)") {
    // sign-LSH guarantees collision w.h.p. for HIGH-cosine vectors — the
    // near-dup retrieval contract. (It cannot find cos≈0.3 "nearest"
    // neighbors of a random corpus; that regime is sim_ivf's job.)
    val planes = Similarity.planes(nPlanes = 6, dim = 8, seed = 7L)
    val rng = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(8)(rng.nextFloat() * 2 - 1)
    val q = vec()
    def nearCopy(eps: Float): Array[Float] = q.map(x => x + eps * (rng.nextFloat() - 0.5f))
    val corpus =
      (1L to 200L).map(i => (i, vec())) ++
        Seq((901L, nearCopy(0.02f)), (902L, nearCopy(0.02f)), (903L, nearCopy(0.02f)))
    val df = corpus.toDF("id", "v")
    val bucketed = df.select($"id", $"v", Similarity.lshBucket($"v", planes).as("b"))
    val qb = bucketed.filter($"id" === 901L).select($"b").head().getInt(0)
    val hits = bucketed.filter($"b" === qb).select($"id").collect().map(_.getLong(0)).toSet
    assert(Set(901L, 902L, 903L).subsetOf(hits), s"planted near-dups not co-bucketed: $hits")
  }
}

class Md5PairSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native Md5Pair is bit-identical to the md5/conv formulation") {
    val docs = Tables.t(spark, TestSpark.sf, "documents")
      .select(explode(graft.functions.TextFns.charShingles("text", 8)).as("x"))
      .limit(50000)
    val (n1, n2) = graft.functions.Hashing.minhashBasePortable($"x")
    val (c1, c2) = graft.functions.Hashing.minhashBasePortableConv($"x")
    val diff = docs.select(n1.as("n1"), n2.as("n2"), c1.as("c1"), c2.as("c2"))
      .filter(!($"n1" <=> $"c1") || !($"n2" <=> $"c2"))
    assert(diff.isEmpty)
  }

  test("edge cases: empty string, non-ASCII, null") {
    val df = Seq(Some(""), Some("ü-umlaut €"), None).toDF("x")
    val (n1, n2) = graft.functions.Hashing.minhashBasePortable($"x")
    val (c1, c2) = graft.functions.Hashing.minhashBasePortableConv($"x")
    val rows = df.select(n1.as("n1"), n2.as("n2"), c1.as("c1"), c2.as("c2")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(2))
      if (!r.isNullAt(0)) { assert(r.getLong(0) == r.getLong(2)); assert(r.getLong(1) == r.getLong(3)) }
    }
  }

  test("Md5Pair participates in whole-stage codegen") {
    val p = Tables.t(spark, TestSpark.sf, "documents")
      .select(graft.functions.Md5Pair.md5_pair($"text"))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(") && p.contains("md5_pair"), p.take(500))
  }
}

class RollingHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def refHash(s: String): Long =
    s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xFF)) % 1000000007L)

  test("expression matches reference implementation (codegen path)") {
    val df = Seq("", "a", "hello world", "spark catalyst", "ü-umlaut too").toDF("s")
    val got = df.select($"s", RollingHash.rolling_hash($"s").as("h")).collect()
    got.foreach(r => assert(r.getLong(1) == refHash(r.getString(0)), r.getString(0)))
  }

  test("interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = graft.functions.RollingHash(Literal("interpreted path"))
    assert(e.eval(null) == refHash("interpreted path"))
  }

  test("SQL registration works") {
    RollingHash.register(spark)
    val h = spark.sql("SELECT rolling_hash('abc')").head().getLong(0)
    assert(h == refHash("abc"))
  }
}

class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("backward as-of picks latest right row at-or-before, inclusive") {
    val left = Seq(
      (1L, 10L, "e1"), (1L, 20L, "e2"), (1L, 5L, "e0"), (2L, 10L, "e3")
    ).toDF("k", "ts", "name")
    val right = Seq(
      (1L, 10L, 100.0), (1L, 15L, 150.0), (3L, 1L, 999.0)
    ).toDF("k", "ts", "price")
    val out = AsOfJoin.backward(left, right, "k", "ts", "ts", Seq("price"))
      .collect().map(r => (r.getLong(0), r.getString(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    assert(out == Set(
      (1L, "e0", -1.0),   // before any right row
      (1L, "e1", 100.0),  // equal ts matches (inclusive)
      (1L, "e2", 150.0),  // latest at-or-before
      (2L, "e3", -1.0)))  // key with no right rows
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stub byte features") {
    val bytes = Array[Byte](0, 10, 10, 100)
    assert(MultimodalStub.meanByte(bytes) == 30.0)
    assert(MultimodalStub.maxByte(bytes) == 100)
    assert(MultimodalStub.entropyProxy(bytes) == 3 / 256.0)
  }

  test("catalog schema round-trips parquet with binary + struct") {
    val docs = Tables.t(spark, TestSpark.sf, "documents").limit(20)
    val cat = Multimodal.catalog(docs)
    val dir = java.nio.file.Files.createTempDirectory("graft_mm").toString
    cat.write.mode("overwrite").parquet(s"$dir/cat.parquet")
    val back = spark.read.parquet(s"$dir/cat.parquet")
    assert(back.schema("content").dataType.typeName == "binary")
    assert(back.schema("meta").dataType.typeName == "struct")
    assert(back.count() == 20)
  }

  test("blob column carries true non-ASCII bytes through parquet") {
    val docs = Tables.t(spark, TestSpark.sf, "documents").limit(20)
    val dir = java.nio.file.Files.createTempDirectory("graft_mm_blob_spec").toString
    Multimodal.catalog(docs).select(org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("blob"))
      .write.mode("overwrite").parquet(s"$dir/blob.parquet")
    val rows = spark.read.parquet(s"$dir/blob.parquet").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val b = r.getAs[Array[Byte]]("blob")
      assert(b.length == 64)
      // md5-chain bytes are uniform over 0-255: a 64-byte blob with no byte
      // outside ASCII has probability (1/2)^64 — this is the non-ASCII proof
      // the pure-text content column can't give
      assert(b.exists(x => (x & 0xFF) > 127), "blob unexpectedly all-ASCII")
    }
  }

  test("frames reassemble to the original payload") {
    import spark.implicits._
    val docs = Seq((7L, "abcdefghij")).toDF("doc_id", "text")
    val frames = Multimodal.frameSample(Multimodal.catalog(docs), 4)
      .orderBy("frame_id").collect()
    assert(frames.length == 3)
    val joined = frames.map(r => new String(r.getAs[Array[Byte]]("frame"))).mkString
    assert(joined == "abcdefghij")
  }

  test("decode features are deterministic and complete") {
    val docs = Tables.t(spark, TestSpark.sf, "documents").limit(10)
    val f = Multimodal.decodeFeatures(spark, Multimodal.catalog(docs)).collect()
    assert(f.length == 10)
    assert(f.forall(x => x.mean_byte > 0 && x.n_bytes > 0))
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming windowed counts equal batch computation") {
    val streamed = graft.streaming.StreamingOps
      .windowedTypeCounts(spark, TestSpark.sf)
    val batch = Tables.t(spark, TestSpark.sf, "events")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("h"), col("event_type"))
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }

  test("stateful sessionization matches gaps-and-islands") {
    import spark.implicits._
    val ev = Tables.t(spark, TestSpark.sf, "events")
      .select(col("user_id"), col("ts").cast("timestamp"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
    val sessions = graft.streaming.StreamingOps.sessionize(ev)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = SparkEntry.queries("q_sessionize")(spark, TestSpark.sf)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sessions == expected)
  }

  test("streaming sessionization equals the batch result row-for-row") {
    val streamed = graft.streaming.StreamingOps
      .sessionStream(spark, TestSpark.sf)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
    val batch = SparkEntry.queries("q_sessionize")(spark, TestSpark.sf)
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("session_value"))
      .orderBy(col("user_id"), col("session_start"))
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }
}

class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("declared names are unique") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("every declared query is in exactly one family, and the families give declared") {
    val byFamily = SparkEntry.families.toSeq.flatMap { case (f, ds) => ds.map(_.name -> f) }
    val twice = byFamily.groupBy(_._1).collect { case (n, fs) if fs.size > 1 => n -> fs.map(_._2) }
    assert(twice.isEmpty, s"queries in more than one family: $twice")
    assert(byFamily.map(_._1) == SparkEntry.declared.map(_.name))
    assert(byFamily.size == 372)
    assert(SparkEntry.families.values.forall(_.nonEmpty))
  }

  test("shared adjudications are one oracle text, and no oracle edits another's") {
    // the stream op, the bloom pre-filter and the stored index each claim
    // results identical to their batch counterpart, so one oracle judges both
    for ((derived, base) <- Seq(
        "stream_drift_psi" -> "dq_drift_psi",
        "dedup_incremental_bloom" -> "dedup_incremental",
        "sim_ivfpq_stored" -> "sim_ivfpq"))
      assert(SparkEntry.oracleSql(derived) == SparkEntry.oracleSql(base), derived)
    // an oracle made by string surgery on another's SQL breaks silently when
    // that SQL's spelling changes; shared CTEs are named definitions instead
    import scala.jdk.CollectionConverters._
    val edit =
      """(\.oracle(\.get)?|oracleSql\([^)]*\))\s*\.replace\w*\(""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty)
    val hits = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if edit.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

class MinHashAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("TypedImperativeAggregate signature equals the built-in formulation") {
    val docs = Tables.t(spark, TestSpark.sf, "documents").limit(100)
    val a = MinHashLsh.signatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = MinHashLsh.signaturesBuiltin(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (k, sig) => assert(sig == b(k), s"doc $k") }
  }
}

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("salted aggregate equals plain aggregate") {
    val li = Tables.t(spark, TestSpark.sf, "lineitem")
    val salted = graft.operators.SkewJoin
      .saltedAgg(li, "l_returnflag", salts = 8, Seq("l_quantity"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100))).toSet
    val plain = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100))).toSet
    assert(salted == plain)
  }
}

class AsOfVariantsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val left = Seq(
    (1L, 10L, "e1"), (1L, 20L, "e2"), (2L, 10L, "e3")
  ).toDF("k", "ts", "name")
  private val right = Seq(
    (1L, 12L, 120.0), (1L, 25L, 250.0), (2L, 5L, 50.0)
  ).toDF("k", "ts", "price")

  test("forward as-of picks earliest right row at-or-after") {
    val out = AsOfJoin.forward(left, right, "k", "ts", "ts", Seq("price"))
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    assert(out == Set(
      ("e1", 120.0), // 12 is the earliest >= 10
      ("e2", 250.0), // 25 is the earliest >= 20
      ("e3", -1.0))) // right row at 5 is before 10 -> no forward match
  }

  test("backward tolerance nulls out stale matches") {
    def run(tol: Double) = AsOfJoin.backwardTolerance(
      left, right, "k", "ts", "ts", Seq("price"), toleranceSeconds = tol)
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    // e1@10: no right row at-or-before; e2@20: match@12 (8s stale);
    // e3@10: match@5 (5s stale)
    assert(run(8.0) == Set(("e1", -1.0), ("e2", 120.0), ("e3", 50.0)))
    assert(run(3.0) == Set(("e1", -1.0), ("e2", -1.0), ("e3", -1.0)))
  }
}

class RangeJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("binned range join equals the naive BETWEEN join") {
    val points = Seq((1L, 100L, 5.0), (1L, 250L, 6.0), (2L, 100L, 7.0), (1L, 9999L, 8.0))
      .toDF("k", "ts", "v")
    val ranges = Seq((1L, 50L, 150L, "r1"), (1L, 200L, 300L, "r2"), (2L, 90L, 110L, "r3"))
      .toDF("k", "rs", "re", "name")
    val binned = graft.operators.RangeJoin
      .binned(points, ranges, "k", "ts", "rs", "re", binSeconds = 60L)
      .select("ts", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val naive = points.join(ranges,
        points("k") === ranges("k") && points("ts") >= ranges("rs") && points("ts") <= ranges("re"))
      .select("ts", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(binned == naive)
    assert(binned == Set((100L, "r1"), (250L, "r2"), (100L, "r3")))
  }

  test("interval spanning many bins still matches once") {
    val points = Seq((1L, 5000L, 1.0)).toDF("k", "ts", "v")
    val ranges = Seq((1L, 0L, 100000L, "wide")).toDF("k", "rs", "re", "name")
    val out = graft.operators.RangeJoin
      .binned(points, ranges, "k", "ts", "rs", "re", binSeconds = 60L)
    assert(out.count() == 1)
  }
}

/** The streaming incremental-dedup anti join must actually REJECT: the
  * fixture split passes everything through (no cross-split dups), so the
  * rejection path needs a synthetic overlap — a "new" doc whose normalized
  * text already sits in the indexed 80%.
  */
class StreamingIncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("index hit is dropped in-flight; novel docs pass with counts per lang") {
    val dir = Tables.scratch("stream_incr_dedup_fixture")
    locally { // clean slate: a previous run may have left directories behind
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.createDirectories(root)
    }
    // doc 2 (indexed side) and doc 18 (stream side) share normalized text;
    // docs 8, 19 are novel. Whitespace differs on purpose: the fingerprint
    // normalizes runs of whitespace, so "a  b" must still collide with "a b".
    // the op streams files NAMED documents.parquet (the fixture layout is a
    // single file, not a directory) — write to a staging dir, then move the
    // single part file into place under that name
    Seq(
      (2L, "dup text  body", "en", "s0", 13L),
      (3L, "other indexed", "en", "s0", 13L),
      (8L, "novel eight", "en", "s0", 11L),
      (18L, "dup  text body", "en", "s0", 13L),
      (19L, "novel nineteen", "de", "s0", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_stage")
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val got = graft.streaming.StreamingOps.incrementalDedupStream(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    // stream side = doc_id % 10 >= 8 → {8, 18, 19}; 18 collides with 2 → out
    assert(got == List(("de", 1L, 19L), ("en", 1L, 8L)))
  }
}

/** The winnowing guarantee: a shared verbatim substring of length
  * ≥ K + W − 1 = 47 chars must produce a common fingerprint REGARDLESS of
  * its offset in each document — the property a fixed-stride seed sampler
  * lacks. Docs share a 64-char run placed at offset 3 in one doc and offset
  * 17 (≠ 3 mod 16) in the other; an unrelated doc must NOT pair.
  */
class WinnowGuaranteeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("shifted verbatim 64-char run pairs the two docs; unrelated doc stays out") {
    val dir = Tables.scratch("winnow_guarantee_fixture")
    locally {
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.createDirectories(root)
    }
    val shared = "the exact same sixty four character run of text appears here verba"
    assert(shared.length >= 47)
    def pad(c: Char, n: Int) = c.toString * n
    val docs = Seq(
      (1L, pad('a', 3) + shared + pad('b', 40), "en", "s0", 0L),
      (2L, pad('c', 17) + shared + pad('d', 55), "en", "s0", 0L),
      (3L, pad('e', 120), "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/_stage")
    val part = new java.io.File(s"$dir/_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val pairs = SparkEntry.queries("dedup_winnow")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }
}

/** text_line_dedup's reassembly must be byte-faithful: a document that loses
  * NO segments must reassemble to exactly its original text (md5-equal) —
  * the property that makes the positioned-segment split/rebuild safe to run
  * over a corpus (order preserved, no separator drift, no boundary loss).
  */
class LineDedupReassemblySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("docs with zero dropped segments reassemble md5-identical to the original") {
    val out = SparkEntry.queries("text_line_dedup")(spark, TestSpark.sf)
    val docs = Tables.t(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), md5(col("text")).as("orig_md5"))
    val joined = out.join(docs, "doc_id").cache()
    try {
      val intact = joined.filter(col("n_dropped") === 0)
      assert(intact.count() > 0, "fixture must contain fully-kept docs")
      val broken = intact.filter(col("clean_md5") =!= col("orig_md5")).count()
      assert(broken == 0, s"$broken fully-kept docs reassembled differently")
      // and at least one doc must actually exercise the drop path
      assert(joined.filter(col("n_dropped") > 0).count() > 0,
        "fixture must contain docs with dropped segments")
    } finally joined.unpersist()
  }
}

/** Containment vs Jaccard on an embedded sub-document: the exact case
  * dedup_containment exists for — a small doc fully contained in a larger
  * one scores containment ≈ 1 while Jaccard stays below any dedup cut.
  */
class ContainmentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("embedded sub-document: containment ~1, jaccard well below 0.5") {
    import graft.functions.TextFns
    val small = "the quick brown fox jumps over the lazy dog again and again"
    val big = small + " " + (1 to 40).map(i => s"filler sentence number $i with unique words").mkString(" ")
    val row = Seq((small, big)).toDF("a", "b")
      .select(
        TextFns.jaccard(TextFns.charShingles("a", 8), TextFns.charShingles("b", 8)).as("j"),
        (size(array_intersect(TextFns.charShingles("a", 8), TextFns.charShingles("b", 8))).cast("double") /
          least(size(TextFns.charShingles("a", 8)), size(TextFns.charShingles("b", 8))).cast("double")).as("c"))
      .head()
    assert(row.getDouble(0) < 0.2, s"jaccard=${row.getDouble(0)}")
    assert(row.getDouble(1) > 0.95, s"containment=${row.getDouble(1)}")
  }
}

/** SQL reachability of the native kernels: both registration paths must
  * resolve the functions — injector applied to a SparkSessionExtensions
  * (the spark.sql.extensions path) and register() on a live session.
  */
class SqlKernelRegistrationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("register() exposes the kernels to spark.sql with correct values") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT rolling_hash('abc') AS rh, md5_pair('abc') AS mp,
         cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                    array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""").head()
    // rolling_hash('abc') = ((97*31+98)*31+99) % 1e9+7
    assert(r.getLong(0) == ((97L * 31 + 98) * 31 + 99) % 1000000007L)
    assert(r.getSeq[Long](1).length == 2)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
  }

  test("the extensions injector registers resolvable functions (spark.sql.extensions path)") {
    // building a second SparkSession in one JVM returns the existing one, so
    // drive the exact mechanism session construction uses: apply the
    // injector to a fresh SparkSessionExtensions, register into a clean
    // FunctionRegistry, and resolve + evaluate a function through it
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.Literal
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.GraftFunctionBridge
      .applyExtensions(ext, FunctionRegistry.builtin.clone())
    for (n <- Seq("cosine_sim", "md5_pair", "rolling_hash"))
      assert(reg.functionExists(FunctionIdentifier(n)), s"$n not registered")
    val e = reg.lookupFunction(FunctionIdentifier("rolling_hash"), Seq(Literal("abc")))
    assert(e.eval(null) == ((97L * 31 + 98) * 31 + 99) % 1000000007L)
  }

  test("wrong arity raises a categorized AnalysisException, not a raw require") {
    graft.GraftExtensions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)))").head()
    }
    assert(e.getCondition != null && e.getCondition.startsWith("WRONG_NUM_ARGS"),
      s"condition=${e.getCondition} msg=${e.getMessage}")
  }
}
