package graft

import graft.functions.TextFunctions
import graft.operators.{Chunking, Dedup, Similarity}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Text / dedup / similarity kernels on tiny in-memory corpora. */
class OperatorsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "text")
  }

  test("wordTokens lowercases and strips punctuation") {
    val out = docs((1L, "Hello, World! It's 42.")).select(
      TextFunctions.wordTokens(col("text"))).collect()(0).getSeq[String](0)
    out shouldBe Seq("hello", "world", "it's", "42")
  }

  test("tokenCount counts whitespace tokens, ignoring edges") {
    docs((1L, "  a b\tc\nd  ")).select(TextFunctions.tokenCount(col("text")))
      .collect()(0).getInt(0) shouldBe 4
    docs((1L, "")).select(TextFunctions.tokenCount(col("text")))
      .collect()(0).getInt(0) shouldBe 0
  }

  test("charShingles produce distinct n-grams of the normalized text") {
    val out = docs((1L, "ab  ab")).select(TextFunctions.charShingles(col("text"), 3))
      .collect()(0).getSeq[String](0)
    out shouldBe Seq("ab ", "b a", " ab") // "ab ab" -> 3 distinct 3-grams
  }

  test("jaccard: identical sets 1.0, disjoint 0.0, empty-vs-empty 0.0") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq("a", "b"), Seq("a", "b")), (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq.empty[String])).toDF("x", "y")
    val out = df.select(TextFunctions.jaccard(col("x"), col("y"))).collect().map(_.getDouble(0))
    out.toSeq shouldBe Seq(1.0, 0.0, 0.0)
  }

  test("quality ratios match hand-computed values") {
    val r = docs((1L, "the cat, the hat!")).select(
      TextFunctions.punctRatio(col("text")),
      TextFunctions.stopwordRatio(col("text")),
      TextFunctions.meanWordLength(col("text"))).collect()(0)
    r.getDouble(0) shouldBe (2.0 / 17.0) +- 1e-9 // ',' and '!' of 17 chars
    r.getDouble(1) shouldBe 0.5 // the,the of 4 tokens
    r.getDouble(2) shouldBe 3.0 +- 1e-9
  }

  test("langId picks the marker-heavy language; 'und' when nothing matches") {
    val out = docs(
      (1L, "the cat is in the house and it was good"),
      (2L, "der hund ist nicht ein problem und ich bin"),
      (3L, "zzz qqq")).select(TextFunctions.langId(col("text"))).collect().map(_.getString(0))
    out.toSeq shouldBe Seq("en", "de", "und")
  }

  test("langIdTable argmax encoding keeps langId's exact tie-break semantics") {
    // round-19: the per-doc argmax was re-encoded from max(struct(score,
    // lang)) — a SortAggregate — to a hash-aggregable max over
    // score*8+langIndex. Pin the contract the encoding must preserve:
    // highest score wins; ties pick the lexicographically LARGEST lang
    // (langs sorted ascending, larger index = lex-larger); marker-free
    // docs predict "und".
    val df = docs(
      (1L, "the cat is in the house and it was good"), // en outright
      (2L, "the der"),          // en 1 vs de 1 -> tie -> "en" (> "de")
      (3L, "the es der die los"), // en 1, de 2, es 2 -> tie -> "es" (> "de")
      (4L, "zzz qqq"))          // no markers -> und
    val out = TextFunctions.langIdTable(df, "text", "id")
      .orderBy(col("id")).collect().map(_.getAs[String]("predicted"))
    out.toSeq shouldBe Seq("en", "en", "es", "und")
    // ... and stays value-identical to the column-form langId on the same rows
    val colForm = df.select(col("id"), TextFunctions.langId(col("text")).as("p"))
      .orderBy(col("id")).collect().map(_.getString(1))
    out.toSeq shouldBe colForm.toSeq
  }

  test("simhash of near-identical docs is within small Hamming distance") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((1L, base), (2L, base + " x"), (3L, "completely different words entirely unrelated content"))
      .toDF("id", "text")
    val fps = df.select(TextFunctions.simhash(col("text"))).collect().map(_.getLong(0))
    java.lang.Long.bitCount(fps(0) ^ fps(1)) should be <= 8
    java.lang.Long.bitCount(fps(0) ^ fps(2)) should be > 8
  }

  test("exact dedup keeps the min-id row per content group") {
    val d = docs((5L, "aaa"), (1L, "aaa"), (2L, "bbb"))
    val out = Dedup.exact(d, Seq("text"), "id").orderBy("id").collect().map(_.getLong(0))
    out.toSeq shouldBe Seq(1L, 2L)
  }

  test("exact dedup distinguishes rows whose null content is swapped across columns") {
    // xxhash64 skips null children, so ("a", null) and (null, "a") share
    // both digests — the position-weighted length term must keep them
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("t1", StringType), StructField("t2", StringType)))
    val d = spark.createDataFrame(
      java.util.List.of(Row(1L, "a", null), Row(2L, null, "a"), Row(3L, "a", null)),
      schema)
    val out = Dedup.exact(d, Seq("t1", "t2"), "id").orderBy("id").collect().map(_.getLong(0))
    out.toSeq shouldBe Seq(1L, 2L) // 3 dedups against 1; 2 survives
  }

  test("dupClusters labels transitive duplicate chains with the min reachable id") {
    val s = spark
    import s.implicits._
    val nodes = (0L to 7L).toDF("id")
    // 0-1-2 chain, 3-4 pair, 5/6/7 singletons
    val pairs = Seq((1L, 0L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(nodes, pairs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    out shouldBe Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 3L),
      (5L, 5L), (6L, 6L), (7L, 7L))
  }

  test("dupClusters drops pairs touching ids absent from nodes") {
    val s = spark
    import s.implicits._
    // doc 9 was filtered out upstream: the (5,9) pair must neither leak
    // id 9 into the output nor link anything through it
    val nodes = Seq(5L, 6L).toDF("id")
    val pairs = Seq((5L, 9L), (9L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(nodes, pairs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    out shouldBe Seq((5L, 5L), (6L, 6L))
  }

  test("dupClusters converges on long chains within default maxIters") {
    val s = spark
    import s.implicits._
    // a 60-node chain has diameter 59 — pointer jumping must converge
    // it in O(log n) rounds, well under the default 20
    val nodes = (0L until 60L).toDF("id")
    val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(nodes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out.length shouldBe 60
    all(out.map(_._2)) shouldBe 0L
    // large-star/small-star contracts this chain in 6 rounds; min-label
    // propagation would need 59. Allowing only ceil(log2 60) + 1 = 7
    // rounds makes a slower contraction fail here, not just run longer.
    Dedup.dupClusters(nodes, pairs, maxIters = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted shouldBe out.toSeq.sorted
  }

  test("dupClusters star contraction agrees with a sequential union-find reference") {
    // round-20: dupClusters moved to alternating large-star/small-star
    // contraction. Differential-pin it against a sequential union-find
    // on a graph mixing a hot-node star (the skewed-component shape the
    // rewrite targets), a long chain, and random noise edges.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20)
    val n = 300
    val edgeSeq = (
      Seq.tabulate(80)(i => (100L, (101 + i).toLong)) ++ // hot star at 100
        (0L until 49L).map(i => (i, i + 1)) ++           // 50-node chain
        Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      ).filter(p => p._1 != p._2)
    // union-find attaching the larger root under the smaller: the final
    // root of every set IS the component's min id
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edgeSeq.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val out = Dedup.dupClusters((0L until n.toLong).toDF("id"),
        edgeSeq.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe expected
  }

  test("exactGroups reports group sizes and keeper ids") {
    val out = Dedup.exactGroups(docs((5L, "aaa"), (1L, "aaa"), (2L, "bbb")), "text", "id")
      .orderBy("keeper_id")
      .collect().map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("dup_count")))
    out.toSeq shouldBe Seq((1L, 2L), (2L, 1L))
  }

  test("minhashTable signatures are value-identical to the column form") {
    import org.apache.spark.sql.functions.col
    val d = docs((1L, "some document body here"), (2L, "another text entirely"), (3L, "x"))
      .select(col("id"), TextFunctions.charShingles(col("text"), 4).as("sh"))
    val column = d.select(col("id"), Dedup.minhashSignature(col("sh"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val table = Dedup.minhashTable(d, "sh", "id", 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    table shouldBe column
  }

  test("minhashPairs finds planted near-duplicates, skips unrelated docs") {
    val corpus = (1L to 8L).map(i =>
      (i, s"document number $i with its own distinct body of shared template text plus unique token u$i"))
    val planted = corpus.take(3).map { case (i, t) => (i + 100, t + " tail") }
    val pairs = Dedup.minhashPairs(docs(corpus ++ planted: _*), "text", "id",
      shingleSize = 4, numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted near-dup pair recovered
    (1L to 3L).foreach(i => pairs should contain((i, i + 100)))
  }

  test("simhashTable is bit-identical to the scalar simhash column") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content with other words"),
      (3L, ""), // empty text -> fingerprint 0
      (4L, "short"))
    val scalar = d.select(col("id"), TextFunctions.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val table = Dedup.simhashTable(d, "text", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    table shouldBe scalar
  }

  test("simhashPairs: exact duplicates (Hamming 0) are always recovered") {
    // banding guarantees recovery only for Hamming <= bands-1; exact
    // copies are the deterministic case (near-copies are covered
    // probabilistically by q28 on the real corpus)
    val corpus = (1L to 6L).map(i =>
      (i, s"news article $i about topic with many common words in the body text u$i"))
    val planted = corpus.take(2).map { case (i, t) => (i + 100, t) }
    val found = Dedup.simhashPairs(docs(corpus ++ planted: _*), "text", "id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming")))
    (1L to 2L).foreach(i => found should contain((i, i + 100, 0)))
  }

  test("cosine: orthogonal 0, parallel 1, zero-vector safe") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(2f, 0f), Seq(5f, 0f)),
      (Seq(0f, 0f), Seq(1f, 1f))).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    out(0) shouldBe 0.0 +- 1e-12
    out(1) shouldBe 1.0 +- 1e-12
    out(2) shouldBe 0.0
  }

  test("bruteForceTopK returns the true nearest neighbors in order") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f)))
      .toDF("id", "v")
    val top = Similarity.bruteForceTopK(df, "v", "id", Seq(1f, 0f), 2)
      .collect().map(_.getLong(0))
    top.toSeq shouldBe Seq(1L, 2L)
  }

  test("int8 quantization: codes in range, zero-safe, quantized cosine tracks exact") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 50L).map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1))) :+
      (99L, Seq.fill(16)(0f))
    val df = vecs.toDF("id", "v")
    val q = Similarity.quantizeInt8(df, "v")
    // codes bounded by the tinyint domain; zero vector → zero codes, scale 1
    val rows = q.select(col("id"), col("_q"), col("_qscale")).collect()
    rows.foreach { r =>
      r.getSeq[Byte](1).foreach(b => math.abs(b.toInt) should be <= 127)
    }
    val zero = rows.find(_.getLong(0) == 99L).get
    zero.getSeq[Byte](1).forall(_ == 0) shouldBe true
    zero.getDouble(2) shouldBe 1.0
    // quantized cosine within int8 error of the exact cosine
    val query = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val qArr = org.apache.spark.sql.functions.array(query.map(lit): _*)
    val qmax = query.map(v => math.abs(v.toDouble)).max
    val qCodes = org.apache.spark.sql.functions.array(
      query.map(v => lit(math.round(v / (qmax / 127.0)).toByte)): _*)
    val errs = q.where(col("id") =!= 99L)
      .select(abs(Similarity.cosine(col("v"), qArr) -
        Similarity.cosine(col("_q"), qCodes)))
      .collect().map(_.getDouble(0))
    all(errs) should be < 0.02
  }

  test("quantizedTopK with refinement equals the exact top-k") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1L to 300L).map(i => (i, Seq.fill(24)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "v")
    val query = Seq.fill(24)(rnd.nextFloat() * 2 - 1)
    val exact = Similarity.bruteForceTopK(df, "v", "id", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val quant = Similarity.quantizedTopK(df, "v", "id", query, 10, refine = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    quant.toSeq shouldBe exact.toSeq // refinement rescored exactly, same order
  }

  test("lshTopK recall: query's own bucket always contains itself") {
    val s = spark
    import s.implicits._
    val vecs = (1L to 50L).map(i => (i, Seq.tabulate(8)(d => math.sin(i * 31 + d).toFloat)))
    val df = vecs.toDF("id", "v")
    val q = vecs.head._2
    val approx = Similarity.lshTopK(df, "v", "id", q, 5, planes = 4, multiprobe = 2)
      .collect().map(_.getLong(0))
    approx should contain(1L) // the query vector itself (cosine 1.0)
  }

  test("IVF index: nprobe=1 finds the query's own cluster; recall grows with nprobe") {
    val s = spark
    import s.implicits._
    // two well-separated clusters around (1,0,...) and (0,1,...)
    val a = (1L to 40L).map(i => (i, Seq.tabulate(6)(d =>
      (if (d == 0) 1f else 0f) + (math.sin(i * 7 + d) * 0.05).toFloat)))
    val b = (101L to 140L).map(i => (i, Seq.tabulate(6)(d =>
      (if (d == 1) 1f else 0f) + (math.cos(i * 11 + d) * 0.05).toFloat)))
    val df = (a ++ b).toDF("id", "v")
    val (assigned, centroids) = Similarity.ivfIndex(df, "v", "id", nlist = 2)
    val query = Seq.tabulate(6)(d => if (d == 0) 1f else 0f)
    val top = Similarity.ivfTopK(assigned, centroids, "v", "id", query, k = 10, nprobe = 1)
      .collect().map(_.getLong(0))
    top.length shouldBe 10
    all(top) should be < 100L // every hit from cluster A
    // nprobe = nlist degenerates to exact brute force
    val exact = Similarity.bruteForceTopK(df, "v", "id", query, 10)
      .collect().map(_.getLong(0))
    val full = Similarity.ivfTopK(assigned, centroids, "v", "id", query, 10, nprobe = 2)
      .collect().map(_.getLong(0))
    full.toSeq shouldBe exact.toSeq
  }

  test("knnJoin gives each query its k nearest corpus rows") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.7f, 0.7f))).toDF("id", "v")
    val queries = Seq((10L, Seq(1f, 0f))).toDF("id", "v")
    val out = Similarity.knnJoin(corpus, queries, "v", "id", 2)
      .orderBy("rank").collect().map(_.getLong(1))
    out.toSeq shouldBe Seq(1L, 3L)
  }

  test("chunkDocuments windows tokens with overlap; short docs yield one chunk") {
    import graft.operators.Chunking
    val text = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val out = Chunking.chunkDocuments(docs((1L, text), (2L, "tiny")), "text", "id",
        maxTokens = 4, overlap = 1)
      .orderBy("id", "chunk_index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // stride 3: starts at 0,3,6,9 -> ceil((10-1)/3)=3 chunks 0..2 then start 9 < 10 -> 4th? ceil(9/3)=3
    out.filter(_._1 == 1L).map(_._3).toSeq shouldBe Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10")
    out.filter(_._1 == 2L).map(_._3).toSeq shouldBe Seq("tiny")
  }

  test("packSequences fills context windows without overflow") {
    import graft.operators.Chunking
    val s = spark
    import s.implicits._
    val items = Seq(60L, 50L, 40L, 30L, 20L, 10L, 90L, 5L, 120L)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = items.toDF("id", "tokens").coalesce(1)
    val packed = Chunking.packSequences(df, "tokens", maxTokensPerPack = 100)
      .collect().map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("pack_tokens")))
    // no pack exceeds the budget
    packed.groupBy(_._1).values.foreach(_.map(_._2).sum should be <= 100L)
    // oversized rows are capped into their own pack
    packed.map(_._2).max shouldBe 100L
    // packing is denser than one-row-per-pack
    packed.map(_._1).distinct.length should be < items.size
  }

  test("assignSplits is deterministic with requested proportions") {
    import graft.operators.Chunking
    val s = spark
    import s.implicits._
    val df = (1L to 2000L).map(i => Tuple1(i)).toDF("id")
    val a1 = Chunking.assignSplits(df, "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a2 = Chunking.assignSplits(df, "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    a1 shouldBe a2 // deterministic
    a1.keySet shouldBe Set("train", "val", "test")
    a1("train").toDouble / 2000 shouldBe 0.9 +- 0.05
    an[IllegalArgumentException] should be thrownBy
      Chunking.assignSplits(df, "id", Seq("a" -> 50, "b" -> 40))
  }

  test("mixSources repeats, subsamples, and drops sources deterministically") {
    val s = spark
    import s.implicits._
    val df = (1L to 100L).flatMap(i => Seq((i, "a"), (i + 1000, "b"), (i + 2000, "c")))
      .toDF("id", "src")
    val mixed = Chunking.mixSources(df, "src", "id",
      Map("a" -> 3.0, "b" -> 0.0), default = 1.0)
    val bySrc = mixed.groupBy("src").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    bySrc("a") shouldBe 300L // 3 full epochs, no residual
    bySrc.get("b") shouldBe None // dropped
    bySrc("c") shouldBe 100L // default 1.0
    // epochs are 0-based copy indices
    mixed.where(col("src") === "a").select("_epoch").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq shouldBe Seq(0L, 1L, 2L)
    // fractional multiplicities: deterministic (two runs identical) and
    // between floor and ceil of the requested volume
    val frac = Chunking.mixSources(df, "src", "id", Map("a" -> 1.5), default = 0.0)
    val n1 = frac.count()
    n1 should be >= 100L
    n1 should be <= 200L
    Chunking.mixSources(df, "src", "id", Map("a" -> 1.5), default = 0.0)
      .count() shouldBe n1
  }

  test("multimodal resize: deterministic strided payload, metadata stamped") {
    import graft.operators.Multimodal
    val assets = Multimodal.syntheticAssets(docs((1L, "abcdefghij")), "id", "text")
    val out = Multimodal.resize(assets, 16, 16).collect()(0)
    out.getAs[Long]("asset_id") shouldBe 1L
    val payload = out.getAs[Array[Byte]]("payload")
    payload.length shouldBe math.min(16 * 16 / 64, 10) // 4 bytes
    payload.toSeq shouldBe Seq('a', 'c', 'f', 'h').map(_.toByte) // strided sample
    out.getAs[Map[String, String]]("meta")("resized") shouldBe "16x16"
  }

  test("multimodal frame sampling fans out every Nth fake frame") {
    import graft.operators.Multimodal
    val text = "x" * 350 // 350 bytes -> 4 frames (0..3)
    val assets = Multimodal.syntheticAssets(docs((2L, text)), "id", "text")
    val frames = Multimodal.sampleFrames(assets, everyN = 2).orderBy("frame_index").collect()
    frames.map(_.getAs[Int]("frame_index")).toSeq shouldBe Seq(0, 2)
    frames.map(_.getAs[Long]("frame_id")).toSeq shouldBe Seq(20000L, 20002L)
    frames(0).getAs[Array[Byte]]("frame").length shouldBe 100
    frames(1).getAs[Array[Byte]]("frame").length shouldBe 100
  }

  test("embeddingPairs recovers planted identical vectors via hyperplane buckets") {
    val s = spark
    import s.implicits._
    val vecs = (1L to 30L).map(i => (i, Seq.tabulate(6)(d => math.sin(i * 13 + d).toFloat)))
    val copies = vecs.take(5).map { case (i, v) => (i + 100, v) }
    val df = (vecs ++ copies).toDF("id", "v")
    val pairs = Dedup.embeddingPairs(df, "v", "id", planes = 5, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (1L to 5L).foreach(i => pairs should contain((i, i + 100)))
    // multiple hash tables only ADD candidates (table 0 is the same
    // plane family), each surviving pair scored exactly once
    val multi = Dedup.embeddingPairs(df, "v", "id", planes = 5,
      threshold = 0.999, tables = 3)
    val multiRows = multi.collect().map(r => (r.getLong(0), r.getLong(1)))
    multiRows.toSet should contain allElementsOf pairs
    multiRows.length shouldBe multiRows.toSet.size // no double-scored pair
  }

  test("hyperplaneTable assigns the same buckets as the scalar hyperplaneBucket") {
    val s = spark
    import s.implicits._
    val vecs = (1L to 60L).map(i => (i, Seq.tabulate(7)(d => math.sin(i * 19 + d).toFloat)))
    val df = vecs.toDF("id", "v")
    val scalar = df.select(col("id"), Dedup.hyperplaneBucket(col("v"), 5).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val table = Dedup.hyperplaneTable(df, "v", "id", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    table shouldBe scalar
  }

  test("embeddingPairs maxBucketSize drops a degenerate bucket instead of going quadratic") {
    val s = spark
    import s.implicits._
    // 1000 identical vectors: one bucket, 499500 candidate pairs uncapped
    val df = (1L to 1000L).map(i => (i, Seq(1f, 2f, 3f))).toDF("id", "v")
    val capped = Dedup.embeddingPairs(df, "v", "id", planes = 4,
      threshold = 0.9, maxBucketSize = 100)
    capped.count() shouldBe 0L // bucket over cap dropped whole
    // a small clean bucket is unaffected by the cap
    val small = (1L to 5L).map(i => (i, Seq(1f, 2f, 3f))).toDF("id", "v")
    Dedup.embeddingPairs(small, "v", "id", planes = 4,
      threshold = 0.9, maxBucketSize = 100).count() shouldBe 10L
  }

  test("persisted IVF index table: probes are partition-pruned, top-k matches brute force") {
    val s = spark
    import s.implicits._
    val cat = graft.table.GraftCatalog(s,
      java.nio.file.Files.createTempDirectory("graft-ivf").toString)
    val vecs = (1L to 120L).map(i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 17 + d * 3).toFloat)))
    val df = vecs.toDF("id", "v")
    val ident = graft.table.TableIdent("ops", "ivf_idx")
    val tbl = Similarity.writeIvfIndexTable(cat, ident, df, "v", "id", nlist = 6)
    // cells landed as identity partitions: probing must prune files
    val total = tbl.currentOrFail().files.size
    val pruned = tbl.prunedFiles("_cell IN (0, 1)").size
    pruned should be < total
    // generous nprobe ⇒ the approximate top-5 equals exact top-5
    val query = vecs(7)._2
    val approx = Similarity.ivfTopKFromTable(tbl, query, k = 5, nprobe = 6)
      .collect().map(_.getLong(0)).toSeq
    val exact = Similarity.bruteForceTopK(df, "v", "id", query, 5)
      .collect().map(_.getLong(0)).toSeq
    approx shouldBe exact
    // tight nprobe still finds the self-match
    Similarity.ivfTopKFromTable(tbl, query, k = 1, nprobe = 1)
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(8L)
  }

  test("IVF index lifecycle: build once, refresh incrementally, never retrain") {
    val s = spark
    import s.implicits._
    val cat = graft.table.GraftCatalog(s,
      java.nio.file.Files.createTempDirectory("graft-ivf-life").toString)
    def vec(i: Long) = Seq.tabulate(8)(d => math.sin(i * 17 + d * 3).toFloat)
    val srcIdent = graft.table.TableIdent("ops", "corpus")
    val idxIdent = graft.table.TableIdent("ops", "idx")
    val src = cat.ensure(srcIdent)
    src.append((1L to 60L).map(i => (i, vec(i))).toDF("id", "v"))
    val idx = Similarity.buildIvfIndexTable(cat, srcIdent, idxIdent, "v", "id", nlist = 4)
    val centroids0 = idx.currentOrFail().properties(Similarity.CentroidsProp)
    // no source movement → noop, marker untouched
    Similarity.refreshIvfIndexTable(cat, idxIdent)._3 shouldBe "noop"
    // appends + a delete net through ONE refresh, assigned to the
    // frozen centroids
    src.append((61L to 90L).map(i => (i, vec(i))).toDF("id", "v"))
    src.deleteWhere("id <= 10")
    val (from, to, action) = Similarity.refreshIvfIndexTable(cat, idxIdent)
    action shouldBe "incremental"
    from should be < to
    val idx2 = cat.load(idxIdent)
    idx2.currentOrFail().properties(Similarity.CentroidsProp) shouldBe centroids0
    idx2.scan().select("id").collect().map(_.getLong(0)).sorted shouldBe
      (11L to 90L).toArray
    // cell assignment parity: every index row sits in the cell the
    // stored centroids assign its vector to (build == refresh rule)
    val cents = centroids0.split(";").map(_.split(",").map(_.toDouble))
    idx2.scan().where(col("_cell") =!=
      Similarity.cellExpr(col("v"), cents)).count() shouldBe 0L
    // a delete-only slice refreshes too
    src.deleteWhere("id > 85")
    Similarity.refreshIvfIndexTable(cat, idxIdent)._3 shouldBe "incremental"
    cat.load(idxIdent).scan().count() shouldBe 75L
    // a probe off the maintained index matches brute force over the
    // live corpus at generous nprobe
    val query = vec(42L)
    Similarity.ivfTopKFromTable(cat.load(idxIdent), query, k = 5, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq shouldBe
      Similarity.bruteForceTopK(cat.load(srcIdent).scan(), "v", "id", query, 5)
        .collect().map(_.getLong(0)).toSeq
  }

  test("IVF lifecycle: drift skews frozen cells, dashboard flags it, rebuild restores recall") {
    val s = spark
    import s.implicits._
    // shared warehouse: the ann_indexes procedure goes through the SQL
    // catalog `graft`, which is pinned to TestSpark.warehouse
    val cat = graft.table.GraftCatalog(s, TestSpark.warehouse)
    val ns = "ivfdash"
    def baseVec(i: Long) = Seq.tabulate(8)(d => math.sin(i * 17 + d * 3).toFloat)
    // a far region the frozen centroids never saw — all-positive offset
    // with enough per-vector spread that neighborhoods are meaningful
    def driftVec(i: Long) =
      Seq.tabulate(8)(d => (40.0 + 5 * math.sin(i * 13 + d * 7)).toFloat)
    val srcIdent = graft.table.TableIdent(ns, "corpus")
    val idxIdent = graft.table.TableIdent(ns, "idx")
    val src = cat.ensure(srcIdent)
    src.append((1L to 100L).map(i => (i, baseVec(i))).toDF("id", "v"))
    Similarity.buildIvfIndexTable(cat, srcIdent, idxIdent, "v", "id", nlist = 8)
    Similarity.ivfIndexStats(cat, idxIdent).rows shouldBe 100L
    // 10× drift: refresh assigns every new vector to ONE stale cell
    src.append((101L to 1100L).map(i => (i, driftVec(i))).toDF("id", "v"))
    Similarity.refreshIvfIndexTable(cat, idxIdent)._3 shouldBe "incremental"
    val st1 = Similarity.ivfIndexStats(cat, idxIdent)
    st1.rows shouldBe 1100L
    st1.skew should be >= 4.0
    st1.rebuildRecommended shouldBe true
    st1.versionsBehind shouldBe 0
    // the dashboard surfaces it through SQL — metadata only, no job
    val row = s.sql(s"CALL graft.system.ann_indexes('$ns')").collect()
      .find(_.getString(0) == "idx").get
    row.getAs[Boolean]("rebuild_recommended") shouldBe true
    row.getAs[Long]("rows") shouldBe 1100L
    row.getAs[Int]("cells") shouldBe 8
    // rebuild retrains from the drifted corpus and swaps in ONE commit
    Similarity.rebuildIvfIndexTable(cat, idxIdent)
    val st2 = Similarity.ivfIndexStats(cat, idxIdent)
    st2.rows shouldBe 1100L
    st2.skew should be < st1.skew
    st2.versionsBehind shouldBe 0
    // recall@10 at modest nprobe is healthy again, in both regions
    val queries = Seq(driftVec(105L), driftVec(300L), driftVec(777L), baseVec(42L))
    val recalls = queries.map { q =>
      val approx = Similarity.ivfTopKFromTable(cat.load(idxIdent), q, 10, nprobe = 4)
        .collect().map(_.getLong(0)).toSet
      val exact = Similarity.bruteForceTopK(src.scan(), "v", "id", q, 10)
        .collect().map(_.getLong(0)).toSet
      approx.intersect(exact).size / 10.0
    }
    all(recalls) should be >= 0.8
    // ... and the SQL spelling of rebuild reports the post-state
    s.sql(s"CALL graft.system.rebuild_ann_index('$ns', 'idx')")
      .head.getLong(0) shouldBe 1100L
  }

  // Round-15 verdict carry #5: opt-in auto-escalation — one refresh
  // call on a drifted corpus lands a rebalanced index, no operator
  // watching the dashboard required.
  test("IVF auto-rebuild: a drifted corpus rebalances in ONE refresh call") {
    val s = spark
    import s.implicits._
    val cat = graft.table.GraftCatalog(s, TestSpark.warehouse)
    val ns = "ivfauto"
    def baseVec(i: Long) = Seq.tabulate(8)(d => math.sin(i * 17 + d * 3).toFloat)
    def driftVec(i: Long) =
      Seq.tabulate(8)(d => (40.0 + 5 * math.sin(i * 13 + d * 7)).toFloat)
    val srcIdent = graft.table.TableIdent(ns, "corpus")
    val idxIdent = graft.table.TableIdent(ns, "idx")
    val src = cat.ensure(srcIdent)
    src.append((1L to 100L).map(i => (i, baseVec(i))).toDF("id", "v"))
    Similarity.buildIvfIndexTable(cat, srcIdent, idxIdent, "v", "id", nlist = 8)
    val centroids0 = cat.load(idxIdent).currentOrFail()
      .properties(Similarity.CentroidsProp)
    // WITHOUT the flag: the same drift stays on the frozen quantizer
    src.append((101L to 600L).map(i => (i, driftVec(i))).toDF("id", "v"))
    Similarity.refreshIvfIndexTable(cat, idxIdent)._3 shouldBe "incremental"
    Similarity.ivfIndexStats(cat, idxIdent).rebuildRecommended shouldBe true
    cat.load(idxIdent).currentOrFail()
      .properties(Similarity.CentroidsProp) shouldBe centroids0
    // the table property arms it; the NEXT refresh escalates even at an
    // up-to-date marker (the skew is already standing)
    cat.load(idxIdent).updateProperties(Map(Similarity.AutoRebuildProp -> "true"))
    Similarity.refreshIvfIndexTable(cat, idxIdent)._3 shouldBe "rebuild"
    val st = Similarity.ivfIndexStats(cat, idxIdent)
    st.rebuildRecommended shouldBe false
    st.versionsBehind shouldBe 0
    st.rows shouldBe 600L
    cat.load(idxIdent).currentOrFail()
      .properties(Similarity.CentroidsProp) should not be centroids0
    // a subsequent refresh on the rebalanced, up-to-date index no-ops
    Similarity.refreshIvfIndexTable(cat, idxIdent)._3 shouldBe "noop"
    // the explicit-arg spelling escalates in one call, slice included
    src.append((601L to 1500L).map(i =>
      (i, Seq.tabulate(8)(d => (-40.0 + 5 * math.cos(i * 7 + d * 11)).toFloat)))
      .toDF("id", "v"))
    cat.load(idxIdent).updateProperties(Map.empty,
      remove = Seq(Similarity.AutoRebuildProp))
    Similarity.refreshIvfIndexTable(cat, idxIdent, autoRebuild = true)
      ._3 shouldBe "rebuild"
    Similarity.ivfIndexStats(cat, idxIdent).rows shouldBe 1500L
    // the SQL spelling: one CALL with auto_rebuild => true lands the
    // retrain too, and reports the post-state skew
    src.append((1501L to 3500L).map(i =>
      (i, Seq.tabulate(8)(d => (80.0 + 5 * math.sin(i * 3 + d * 5)).toFloat)))
      .toDF("id", "v"))
    val row = s.sql(s"CALL graft.system.refresh_ann_index('$ns', 'idx', true)").head
    row.getString(2) shouldBe "rebuild"
    row.getDouble(3) should be < 4.0
    // ... and without the flag a refresh stays on the frozen quantizer
    s.sql(s"CALL graft.system.refresh_ann_index('$ns', 'idx', false)")
      .head.getString(2) shouldBe "noop"
  }

  // Round-15 verdict carry #6: the rebuild-vs-refresh race. A refresh
  // that read the marker BEFORE a rebuild committed must abort at its
  // CAS when it tries to commit AFTER — never merge a stale slice over
  // the retrained tiling. The mid-flight commit is replicated exactly:
  // applyNetChanges deriving from the pre-rebuild marker.
  test("IVF rebuild-vs-refresh race: the stale refresh aborts at its CAS, index intact") {
    val s = spark
    import s.implicits._
    val cat = graft.table.GraftCatalog(s, TestSpark.warehouse)
    val ns = "ivfrace"
    def vec(i: Long) = Seq.tabulate(8)(d => math.sin(i * 17 + d * 3).toFloat)
    val srcIdent = graft.table.TableIdent(ns, "corpus")
    val idxIdent = graft.table.TableIdent(ns, "idx")
    val src = cat.ensure(srcIdent)
    src.append((1L to 80L).map(i => (i, vec(i))).toDF("id", "v"))
    Similarity.buildIvfIndexTable(cat, srcIdent, idxIdent, "v", "id", nlist = 4)
    val appliedBefore = cat.load(idxIdent).currentOrFail()
      .properties(Similarity.AppliedProp)
    src.append((81L to 120L).map(i => (i, vec(i))).toDF("id", "v"))
    val to = src.currentOrFail().version
    // a refresh starts here: reads marker `appliedBefore`, computes its
    // slice — then the REBUILD wins the race and commits first
    Similarity.rebuildIvfIndexTable(cat, idxIdent)
    val rebuilt = cat.load(idxIdent)
    val rebuiltVersion = rebuilt.currentOrFail().version
    rebuilt.currentOrFail().properties(Similarity.AppliedProp) shouldBe to.toString
    // ... the in-flight refresh now issues its commit, derived from the
    // OLD marker — exactly applyNetChanges with the stale CAS
    val centroids = rebuilt.currentOrFail().properties(Similarity.CentroidsProp)
      .split(";").map(_.split(",").map(_.toDouble))
    val staleUps = src.scan().where($"id" > 80)
      .withColumn("_cell", Similarity.cellExpr($"v", centroids))
    val e = intercept[IllegalArgumentException] {
      rebuilt.applyNetChanges(staleUps.select($"id").where(lit(false)), staleUps,
        Seq("id"),
        props = Map(Similarity.AppliedProp -> to.toString),
        requireParentProps = Map(Similarity.AppliedProp -> appliedBefore))
    }
    e.getMessage should include("another applier committed first")
    // nothing moved: the rebuild's snapshot is still the head, marker
    // consistent, no duplicated rows
    val after = cat.load(idxIdent)
    after.currentOrFail().version shouldBe rebuiltVersion
    after.currentOrFail().properties(Similarity.AppliedProp) shouldBe to.toString
    after.scan().count() shouldBe src.scan().count()
    after.scan().groupBy($"id").count().where($"count" > 1).count() shouldBe 0L
    // and the losing refresher's remedy — re-run — cleanly no-ops
    Similarity.refreshIvfIndexTable(cat, idxIdent)._3 shouldBe "noop"
  }

  test("rangeJoin matches exactly the naive theta-join overlap result") {
    import graft.operators.RangeJoin
    val s = spark
    import s.implicits._
    // random-ish intervals, several bins wide, touching + disjoint cases
    val left = Seq((1L, 0L, 15L), (1L, 20L, 25L), (2L, 5L, 6L), (3L, 100L, 200L))
      .toDF("k", "s", "e")
    val right = Seq((1L, 10L, 30L), (1L, 26L, 40L), (2L, 6L, 9L), (3L, 201L, 300L))
      .toDF("k", "rs", "re")
    val naive = left.join(right, Seq("k"))
      .where(col("s") <= col("re") && col("rs") <= col("e"))
      .select("k", "s", "e", "rs", "re").collect().map(_.toSeq).toSet
    val binned = RangeJoin.intervals(left, right, Seq("k"), "s", "e", "rs", "re", binSize = 8)
      .select("k", "s", "e", "rs", "re").collect().map(_.toSeq)
    binned.toSet shouldBe naive
    binned.length shouldBe binned.toSet.size // no duplicate pairs
    naive should contain(Seq(1L, 0L, 15L, 10L, 30L)) // overlap
    naive should contain(Seq(2L, 5L, 6L, 6L, 9L))    // touching endpoints
  }

  test("asOfJoin picks the latest right row at-or-before each left ts") {
    import graft.operators.AsOfJoin
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, "l10"), (1L, 20L, "l20"), (1L, 5L, "l5"), (2L, 10L, "x"))
      .toDF("k", "t", "lv")
    val right = Seq((1L, 8L, "r8"), (1L, 10L, "r10"), (1L, 15L, "r15"), (3L, 1L, "zz"))
      .toDF("k", "rt", "rv")
    val out = AsOfJoin.join(left, right, Seq("k"), "t", "rt", Seq("rv"))
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(3)).orNull))
    out.toSeq shouldBe Seq(
      (1L, 5L, null),   // no click at or before 5
      (1L, 10L, "r10"), // inclusive: rt == t matches
      (1L, 20L, "r15"),
      (2L, 10L, null))  // key with no right rows
  }

  test("rangeJoin equals the naive join on seeded random interval sets") {
    import graft.operators.RangeJoin
    val s = spark
    import s.implicits._
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      def intervals(n: Int) = (1 to n).map { i =>
        val st = rnd.nextInt(200).toLong
        (rnd.nextInt(4).toLong, st, st + rnd.nextInt(40))
      }
      val left = intervals(60).toDF("k", "s", "e")
      val right = intervals(60).toDF("k", "rs", "re")
      val naive = left.join(right, Seq("k"))
        .where(col("s") <= col("re") && col("rs") <= col("e"))
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val binned = RangeJoin.intervals(left, right, Seq("k"), "s", "e", "rs", "re",
          binSize = 16)
        .select("k", "s", "e", "rs", "re")
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      withClue(s"seed $seed: ") { binned shouldBe naive }
    }
  }

  test("asOfJoin equals the naive latest-at-or-before on seeded random events") {
    import graft.operators.AsOfJoin
    val s = spark
    import s.implicits._
    for (seed <- Seq(3, 99)) {
      val rnd = new scala.util.Random(seed)
      val left = (1 to 80).map(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
        .toDF("k", "t", "lid")
      val right = (1 to 80).map(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, s"r$i"))
        .toDF("k", "rt", "rv")
      // naive: max-rt right row at-or-before each left t; right-side
      // rt ties deduped first (union-order tie-breaks aren't specified)
      val rightDedup = right.groupBy("k", "rt").agg(max("rv").as("rv"))
      val r2 = rightDedup.withColumnRenamed("k", "rk")
      val naive = left
        .join(r2, col("k") === col("rk") && col("rt") <= col("t"), "left")
        .groupBy("k", "t", "lid")
        .agg(max(struct(col("rt"), col("rv"))).getField("rv").as("rv"))
        .collect().map(r => (r.getLong(2), Option(r.getString(3)))).toMap
      val asof = AsOfJoin.join(left, rightDedup, Seq("k"), "t", "rt", Seq("rv"))
        .collect().map(r => (r.getAs[Long]("lid"), Option(r.getAs[String]("rv")))).toMap
      withClue(s"seed $seed: ") { asof shouldBe naive }
    }
  }

  test("saltedJoin splits hot keys but returns exactly the plain join result") {
    import graft.operators.Skew
    val s = spark
    import s.implicits._
    // one pathological hot key (90% of rows) + a long tail
    val big = ((1 to 900).map(i => (1L, s"r$i")) ++ (1 to 100).map(i => (i.toLong % 7 + 2, s"t$i")))
      .toDF("k", "payload")
    val small = (1L to 10L).map(i => (i, s"dim$i")).toDF("k", "dim")
    val plain = big.join(small, Seq("k")).orderBy("k", "payload")
      .collect().map(_.toSeq).toSeq
    val salted = Skew.saltedJoin(big, small, Seq("k"), factor = 8,
        spreadCol = Some("payload"))
      .orderBy("k", "payload").collect().map(_.toSeq).toSeq
    salted shouldBe plain
    salted.size shouldBe 1000
  }

  test("repeatedNgramFraction: unique text 0, fully repeated text high, short text 0") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),          // all bigrams unique
      (2L, "spam spam spam spam spam"),        // one distinct bigram of 4
      (3L, "word")).toDF("id", "text")         // < 2 tokens
    val out = df.select(col("id"),
        TextFunctions.repeatedNgramFraction(col("text"), 2).as("r"))
      .orderBy("id").collect().map(_.getDouble(1))
    out(0) shouldBe 0.0
    out(1) shouldBe 0.75 +- 1e-9
    out(2) shouldBe 0.0
  }

  test("redactPii replaces emails, phones, and IPv4s with placeholders") {
    val s = spark
    import s.implicits._
    val df = Seq("mail a.user+x@sub.example.org or 10.0.0.7 or +1 (555) 010-9999 end")
      .toDF("text")
    val out = df.select(TextFunctions.redactPii(col("text"))).head.getString(0)
    out shouldBe "mail [EMAIL] or [IP] or [PHONE] end"
  }

  test("flagContaminated finds exactly the docs sharing a benchmark n-gram") {
    val s = spark
    import s.implicits._
    val bench = Seq((0L, "one two three four five six")).toDF("id", "text")
    val train = Seq(
      (10L, "zzz one two three four five yyy"),  // shares a 5-gram
      (11L, "one two three nine four five"),     // shares words, no 5-gram
      (12L, "totally different words here now ok")).toDF("id", "text")
    val out = Dedup.flagContaminated(train, bench, "text", "id", n = 5)
      .collect().map(_.getLong(0)).toSeq
    out shouldBe Seq(10L)
  }

  test("flagContaminatedBloom equals the exact operator; empty benchmark flags nothing") {
    val s = spark
    import s.implicits._
    // enough shared and near-miss grams that a bloom bucketing bug (or
    // a verify join dropped by mistake) would change the output set
    val bench = (0L until 20L)
      .map(i => (i, s"alpha bravo charlie delta echo m$i n$i o$i p$i q$i"))
      .toDF("id", "text")
    val train = (100L until 200L).map { i =>
      val text =
        if (i % 3 == 0) s"xx alpha bravo charlie delta echo yy z$i" // true hit
        else if (i % 3 == 1) s"alpha bravo charlie delta f$i echo"  // words, no 5-gram
        else s"totally unrelated content row number $i here"
      (i, text)
    }.toDF("id", "text")
    val exact = Dedup.flagContaminated(train, bench, "text", "id", n = 5)
      .collect().map(_.getLong(0)).toSet
    val bloom = Dedup.flagContaminatedBloom(train, bench, "text", "id", n = 5)
      .collect().map(_.getLong(0)).toSet
    bloom shouldBe exact
    exact should not be empty
    // a deliberately high fpp floods the candidate set with false
    // positives — the exact verify must still remove every one
    val noisy = Dedup.flagContaminatedBloom(train, bench, "text", "id", n = 5,
      fpp = 0.5).collect().map(_.getLong(0)).toSet
    noisy shouldBe exact
    val none = Dedup.flagContaminatedBloom(train, bench.where(lit(false)),
      "text", "id", n = 5)
    none.collect() shouldBe empty
  }

  test("simhashAgainst drops near-dups of retained fingerprints, verified brute-force") {
    val s = spark
    import s.implicits._
    def doc(i: Long, extra: String = "") =
      s"the quick brown fox $i jumps over the lazy dog near river $i bank today$extra"
    val existingDocs = (0L until 20L).map(i => (i, doc(i))).toDF("id", "text")
    val existingFps = Dedup.simhashTable(existingDocs, "text", "id")
      .select(col("fp"))
    // re-worded copies: token-multiset changes shift many bit-sums, so
    // only duplicated/trivially-reordered text stays within hamming 3 —
    // exact copies (hamming 0) and a word swap (multiset unchanged ⇒
    // hamming 0) are the in-range near-dups here; anything with new
    // tokens is generically far and the brute-force equality covers it
    val incoming = (
      (0L until 3L).map(i => (1000 + i, doc(i))) ++                 // exact copies
      (3L until 5L).map(i => (1000 + i,
        doc(i).split(" ").reverse.mkString(" "))) ++                // reordered words
      (50L until 60L).map(i => (1000 + i, s"completely different content piece $i with its own unique words ${i * 7}"))
    ).toDF("id", "text")
    val out = Dedup.simhashAgainst(incoming, existingFps, "text", "id")
    // brute-force reference: an incoming doc survives iff NO existing
    // fingerprint is within hamming 3 of its own
    val exFps = existingFps.collect().map(_.getLong(0))
    val inFps = Dedup.simhashTable(incoming, "text", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = inFps.collect { case (id, f)
      if !exFps.exists(e => java.lang.Long.bitCount(e ^ f) <= 3) => id }.toSet
    out.collect().map(_.getLong(0)).toSet shouldBe expect
    // the near-dup mutations were actually dropped (test has teeth)
    expect.intersect((1000L until 1005L).toSet) shouldBe empty
    expect should not be empty
    // survivors carry their fingerprint for state append
    out.columns should contain("fp")
    out.select(col("id"), col("fp")).collect()
      .foreach(r => r.getLong(1) shouldBe inFps(r.getLong(0)))
  }

  test("exactAgainst keeps exactly the rows whose content is new to the corpus") {
    val s = spark
    import s.implicits._
    val existing = ((0L until 50L).map(i => (i, s"doc $i", "b")) :+
      (90L, null: String, "x")).toDF("id", "text", "extra")
    val batch = (
      (100L until 120L).map(i => (i, s"doc ${i - 100}", "b")) ++   // dups of existing
      (200L until 230L).map(i => (i, s"fresh $i", "b")) :+
      (300L, null: String, "x") :+                                 // null-content dup
      (301L, "x", null: String)                                    // swapped-null: NEW
    ).toDF("id", "text", "extra")
    val out = Dedup.exactAgainst(batch, existing, Seq("text", "extra"), "id")
      .collect().map(_.getLong(0)).toSet
    out shouldBe ((200L until 230L).toSet + 301L)
    // a high fpp floods the candidate slice; the exact verify must
    // still neither drop a new row nor keep a duplicate
    val noisy = Dedup.exactAgainst(batch, existing, Seq("text", "extra"), "id",
      fpp = 0.5).collect().map(_.getLong(0)).toSet
    noisy shouldBe out
    // known corpus cardinality skips the sizing count, same answer
    val sized = Dedup.exactAgainst(batch, existing, Seq("text", "extra"), "id",
      expectedExistingKeys = 51L).collect().map(_.getLong(0)).toSet
    sized shouldBe out
    // empty corpus: everything is new
    val all = Dedup.exactAgainst(batch, existing.where(lit(false)),
      Seq("text", "extra"), "id").collect().map(_.getLong(0)).toSet
    all shouldBe batch.collect().map(_.getLong(0)).toSet
  }

  test("dedupChunks drops repeated chunks corpus-wide, keeps first occurrences in order") {
    val s = spark
    import s.implicits._
    val footer = (1 to 10).map(i => s"boiler$i").mkString(" ") // one exact chunk
    val docs = Seq(
      (1L, s"alpha one two three four five six seven eight nine $footer"),
      (2L, s"beta one two three four five six seven eight nine $footer"),
      (3L, footer),                       // nothing but the shared footer
      (4L, "gamma " + footer.take(0)),    // 1-word doc, single short chunk
      (5L, "")                            // zero tokens
    ).toDF("doc_id", "text")
    val out = Dedup.dedupChunks(docs, "text", "doc_id", chunkWords = 10)
      .orderBy("doc_id").collect()
    out.map(_.getLong(0)) shouldBe Array(1L, 2L, 3L, 4L, 5L)
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 owns both its chunks (first occurrence of the footer)
    byId(1L) shouldBe ((2L, 0L,
      s"alpha one two three four five six seven eight nine $footer"))
    // doc 2's first chunk differs word-1, survives; its footer chunk is cut
    byId(2L) shouldBe ((1L, 1L,
      "beta one two three four five six seven eight nine"))
    // doc 3 is fully gutted but its row survives with empty text
    byId(3L) shouldBe ((0L, 1L, ""))
    byId(4L) shouldBe ((1L, 0L, "gamma"))
    byId(5L) shouldBe ((0L, 0L, ""))
    // in-document repetition: the same chunk twice in one doc keeps
    // only the earlier position
    val rep = Seq((7L, footer + " " + footer)).toDF("doc_id", "text")
    val r = Dedup.dedupChunks(rep, "text", "doc_id", chunkWords = 10).collect()(0)
    (r.getLong(1), r.getLong(2), r.getString(3)) shouldBe ((1L, 1L, footer))
  }

  test("dedupChunks agrees with a sequential reference on a random corpus") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(82)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def doc(): String = Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 150L).map(i => (i, doc()))
    // planted structure: exact copies and shared suffixes across ids
    val docs = base ++ base.take(20).map { case (i, t) => (i + 1000L, t) } ++
      base.slice(20, 40).map { case (i, t) => (i + 2000L, doc() + " " + t) }
    val k = 5
    // sequential reference: first occurrence by (id, chunk index) wins
    def toks(t: String) = t.toLowerCase.split("[^a-z0-9']+").filter(_.nonEmpty).toSeq
    val seen = scala.collection.mutable.Set.empty[String]
    val ref = docs.sortBy(_._1).map { case (id, t) =>
      val chunks = toks(t).grouped(k).map(_.mkString(" ")).toSeq
      val kept = chunks.zipWithIndex.filter { case (c, _) => seen.add(c) }
      id -> ((kept.size.toLong, (chunks.size - kept.size).toLong,
        kept.map(_._1).mkString(" ")))
    }.toMap
    val out = Dedup.dedupChunks(docs.toDF("doc_id", "text"), "text", "doc_id", k)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out shouldBe ref
    // the planted exact copies were fully gutted
    (1000L until 1020L).filter(i => out(i)._1 == 0L).size shouldBe 20
  }

  test("dedupChunks encoded argmin == struct fallback (negative ids force the fallback)") {
    // round-19: in-range long ids take the order-preserving id<<24|cidx
    // encoding (HashAggregate); out-of-range ids must fall back to the
    // exact struct argmin. Shifting every id by a constant preserves
    // relative order, so the two plans must keep the same occurrences.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(19)
    val vocab = Vector("red", "green", "blue", "cyan")
    def doc(): String = Seq.fill(8 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 40L).map(i => (i, doc()))
    val corpus = base ++ base.take(10).map { case (i, t) => (i + 100L, t) }
    val pos = Dedup.dedupChunks(corpus.toDF("doc_id", "text"), "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    val neg = Dedup.dedupChunks(
        corpus.map { case (i, t) => (i - 1000L, t) }.toDF("doc_id", "text"),
        "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0) + 1000L) -> ((r.getLong(1), r.getString(3)))).toMap
    neg shouldBe pos
  }

  test("dedupChunks never encodes non-integral ids: mixed-castability and numeric strings") {
    // round-20: the encoded path is gated on an INTEGRAL id column. A
    // string corpus where some ids cast to long ("17") and some don't
    // ("doc-17") must keep every document (min/max-only probes pass such
    // a corpus and the NULL-encoded rows then vanish); all-numeric
    // STRING ids must still dedup lexicographically (struct plan), not
    // numerically.
    val s = spark
    import s.implicits._
    val shared = "alpha beta gamma alpha beta gamma alpha beta gamma"
    val mixed = Seq(("17", shared), ("doc-17", shared), ("doc-03", "unique words here now then"))
      .toDF("doc_id", "text")
    val outM = Dedup.dedupChunks(mixed, "text", "doc_id", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    outM.keySet shouldBe Set("17", "doc-17", "doc-03") // nothing dropped
    outM("17") should be > 0L   // "17" < "doc-17" lexicographically: first owner
    outM("doc-17") shouldBe 0L  // fully gutted duplicate
    // numeric strings: "9" > "10" lexicographically, so doc "10" owns
    val numStr = Seq(("9", shared), ("10", shared)).toDF("doc_id", "text")
    val outN = Dedup.dedupChunks(numStr, "text", "doc_id", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    outN("10") should be > 0L
    outN("9") shouldBe 0L
  }

  test("stratifiedSample keeps deterministic per-stratum subsets at the set rates") {
    val s = spark
    import s.implicits._
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "g")
    val kept = Chunking.stratifiedSample(df, "g", "id", Map("a" -> 50, "b" -> 0), default = 0)
    val counts = kept.groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.keySet shouldBe Set("a")
    counts("a").toDouble shouldBe (500.0 +- 120.0) // ~50% of 1000, hash-determined
    // deterministic: same call → same rows
    val again = Chunking.stratifiedSample(df, "g", "id", Map("a" -> 50, "b" -> 0), default = 0)
    again.collect().map(_.getLong(0)).sorted shouldBe kept.collect().map(_.getLong(0)).sorted
    // portable hash variant agrees with its documented md5 formula
    val p = Chunking.stratifiedSample(df, "g", "id", Map("a" -> 100), portableHash = true)
    p.where(col("g") === "a").count() shouldBe 1000L
  }

  test("assignSplits portableHash matches the md5 formula and the weights") {
    val s = spark
    import s.implicits._
    val df = (0L until 1000L).map(i => Tuple1(i)).toDF("id")
    val out = Chunking.assignSplits(df, "id", portableHash = true)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.keySet shouldBe Set("train", "val", "test")
    counts("train").toDouble shouldBe (900.0 +- 60.0)
    // cross-check one row against the documented dual formula
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("42".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bucket = java.lang.Long.parseLong(md.take(15), 16) % 100
    val expected = if (bucket < 90) "train" else if (bucket < 95) "val" else "test"
    out.where(col("id") === 42).head.getAs[String]("split") shouldBe expected
  }

  test("minhashPairs bucket cap drops oversized exact-dup clusters, keeps small pairs") {
    val s = spark
    import s.implicits._
    // 12 identical docs (one giant bucket) + one near-dup pair
    val giant = (0L until 12L).map(i => (i, "the same exact duplicated text body repeated"))
    val pair = Seq(
      (100L, "a genuinely different document about distributed query engines"),
      (101L, "a genuinely different document about distributed query engines!"))
    val df = (giant ++ pair).toDF("id", "text")
    val uncapped = Dedup.minhashPairs(df, "text", "id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped should contain((100L, 101L))
    uncapped.count(p => p._1 < 12 && p._2 < 12) shouldBe 66 // 12*11/2
    val capped = Dedup.minhashPairs(df, "text", "id", threshold = 0.5, maxBucketSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    capped should contain((100L, 101L))       // small buckets survive
    capped.count(p => p._1 < 12) shouldBe 0   // giant cluster dropped whole
  }

  test("hyperplaneBucket is deterministic and bounded by 2^planes") {
    val s = spark
    import s.implicits._
    val df = (1L to 20L).map(i => (i, Seq.tabulate(4)(d => math.cos(i + d).toFloat))).toDF("id", "v")
    val b1 = df.select(Dedup.hyperplaneBucket(col("v"), 3)).collect().map(_.getLong(0))
    val b2 = df.select(Dedup.hyperplaneBucket(col("v"), 3)).collect().map(_.getLong(0))
    b1.toSeq shouldBe b2.toSeq
    all(b1) should (be >= 0L and be < 8L)
  }

  test("semanticDedup drops exact semantic duplicates, keeps distinct vectors") {
    val s = spark
    import s.implicits._
    // 12 well-separated base vectors, each duplicated under a higher id
    val base = (0L until 12L).map { i =>
      (i, Seq.tabulate(8)(d => if (d == (i % 8).toInt) 1.0f + i else 0.1f * d))
    }
    val copies = base.map { case (i, v) => (i + 100L, v) }
    val df = (base ++ copies).toDF("id", "v")
    val survivors = Dedup.semanticDedup(df, "v", "id", k = 4, threshold = 0.999)
      .select("id").as[Long].collect().toSet
    survivors shouldBe (0L until 12L).toSet // every copy gone, min id kept
    // no duplicates among survivors: all pairwise cosines below the bar
    val sv = Dedup.semanticDedup(df, "v", "id", k = 4, threshold = 0.999)
    val cross = sv.select(col("id").as("ia"), col("v").as("va"))
      .crossJoin(sv.select(col("id").as("ib"), col("v").as("vb")))
      .where(col("ia") < col("ib"))
      .where(Similarity.cosine(col("va"), col("vb")) > 0.999)
    cross.count() shouldBe 0L
    // degenerate clustering guard: a cap below any cluster's pair count
    // fails loudly with the remedy
    val e = intercept[IllegalStateException] {
      Dedup.semanticDedup(df, "v", "id", k = 2, threshold = 0.999,
        maxClusterPairs = 3L)
    }
    e.getMessage should include("raise k")
  }
}
