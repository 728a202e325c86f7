package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Compaction, ConnectedComponents, Dedup, Merge, Multimodal, Similarity, TextAnalysis}

/** Extension-operator specs: dedup recall/precision, ANN recall vs
  * brute force, multimodal plumbing shapes.
  */
class OpsSpec extends AnyFunSuite {

  /** The scan's PartitionFilters entry from the formatted plan — empty
    * string = no partition pruning. */
  private def partitionFilters(df: org.apache.spark.sql.DataFrame): String =
    "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      .map(_.group(1).trim).getOrElse("")


  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while seventeen " +
      "magistrates deliberate upon the merits of the appellate briefs " +
      "submitted last thursday regarding maritime insurance claims"

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val df = docs(
      1L -> base,
      2L -> base, // exact dup
      3L -> (base + " with a small appended tail"), // near dup
      4L -> "completely unrelated text about cooking pasta with garlic and olive oil and fresh basil leaves from the garden")
    val pairs = Dedup.minHashPairs(df, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash est_jaccard ~1.0 for exact duplicates") {
    val df = docs(1L -> base, 2L -> base)
    val row = Dedup.minHashPairs(df, "doc_id", "text").collect().head
    assert(row.getAs[Double]("est_jaccard") == 1.0)
    assert(row.getAs[Double]("jaccard") == 1.0)
  }

  test("simhash: hamming 0 for exact dup, small for near dup, large for unrelated") {
    assert(Dedup.simHash(base) == Dedup.simHash(base))
    val near = java.lang.Long.bitCount(
      Dedup.simHash(base) ^ Dedup.simHash(base + " extra tail"))
    val far = java.lang.Long.bitCount(
      Dedup.simHash(base) ^ Dedup.simHash(
        "entirely different content about astrophysics and neutron stars colliding in distant galaxies"))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 8)
    assert(far > 10)
  }

  test("simHashPairs finds planted dup") {
    val df = docs(1L -> base, 2L -> base,
      3L -> "unrelated pasta recipe with tomatoes basil garlic onions peppers and a pinch of oregano simmered slowly")
    val pairs = Dedup.simHashPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("banded embedding LSH: high recall on NON-identical pairs at cosine ~0.97") {
    import spark.implicits._
    val dim = 32
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // 60 base vectors, each with a PERTURBED partner at cosine ~0.97
    // (round 1's single-table LSH only passed because its planted pairs
    // were exact copies — cosine 1.0 collides in every table)
    val alpha = 0.97
    val rows = (0 until 60).flatMap { i =>
      val u = unit()
      val w = unit()
      // component of w orthogonal to u, re-normalized
      val proj = cos(u, w)
      val perp0 = w.zip(u).map { case (wi, ui) => wi - (proj * ui).toFloat }
      val pn = math.sqrt(perp0.map(x => x.toDouble * x).sum)
      val perp = perp0.map(x => (x / pn).toFloat)
      val v = u.zip(perp).map { case (ui, pi) =>
        (alpha * ui + math.sqrt(1 - alpha * alpha) * pi).toFloat }
      Seq((i.toLong, u), (i.toLong + 1000L, v))
    }
    val df = rows.toDF("vec_id", "embedding")
    // ground truth by exact all-pairs cosine
    val truth = (for {
      a <- rows; b <- rows if a._1 < b._1
      if cos(a._2, b._2) >= 0.95
    } yield (a._1, b._1)).toSet
    assert(truth.size >= 60, "every planted pair must be in the truth set")
    val found = Dedup.embeddingNearDup(df, "vec_id", "embedding",
        threshold = 0.95, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(truth), "exact verify must keep precision 1.0")
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall below 0.9 (${found.size}/${truth.size})")
  }

  test("exact jaccard math") {
    val a = Dedup.shingles(base, 3)
    assert(Dedup.jaccard(a, a) == 1.0)
    assert(Dedup.jaccard(a, Array.empty[Long]) == 0.0)
    assert(Dedup.jaccard(Array.empty[Long], Array.empty[Long]) == 1.0)
  }

  test("exactDuplicates marks non-keeper rows") {
    val df = docs(1L -> "same text", 2L -> "same text", 3L -> "different")
    val out = Dedup.exactDuplicates(df, "doc_id", "text")
      .select("doc_id", "is_duplicate").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false))
  }

  test("ANN: LSH top-k recall vs brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(e, "vec_id", "embedding", q, 10,
      numPlanes = 8, probeHamming = 3)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall") // probe<=3 of 8 planes
    // self-match must always be found (same bucket by definition)
    assert(approx.contains(0L))
  }

  test("ANN: bucketed LSH index probe is PARTITION-PRUNED and finds the self-match") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    Similarity.writeLshIndex(e, "vec_id", "embedding", dir, dim = 64)
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val probe = Similarity.lshTopKIndexed(spark, dir, q, 5)
    // the hamming predicate must bind to the bucket PARTITION column —
    // a probe that reads all directories is a full scan, not an index
    assert(partitionFilters(probe).nonEmpty, "no partition filter in scan")
    val top = probe.collect()
    assert(top.head.getLong(0) == 0L, "self-match must be in the probed bucket")
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("ANN: multi-probe LSH — margin-ordered probes strictly beat the " +
      "single (home) probe's recall, partition-pruned to nProbes dirs") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_mp").toString
    Similarity.writeLshIndex(e, "vec_id", "embedding", dir,
      numPlanes = 8, dim = 64)
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    def found(n: Int): Set[Long] =
      Similarity.lshTopKMultiProbe(spark, dir, q, 10,
        numPlanes = 8, nProbes = n)
        .collect().map(_.getLong(0)).toSet
    val r1 = (exact intersect found(1)).size.toDouble / exact.size
    val r8 = (exact intersect found(8)).size.toDouble / exact.size
    // the recall/cost knob must actually buy recall on real data
    assert(r8 > r1 || r1 == 1.0, s"multi-probe did not help: $r1 -> $r8")
    assert(r8 >= 0.25, s"recall=$r8 at 8 of 256 buckets probed (3% of " +
      "the corpus read; the hamming<=3 ball needs 93 buckets for ~0.5)")
    // home bucket always probed first → self-match even at nProbes=1
    assert(found(1).contains(0L), "self-match missing from home probe")
    // the IN over the probe buckets must bind to the PARTITION column
    val probe = Similarity.lshTopKMultiProbe(spark, dir, q, 5,
      numPlanes = 8, nProbes = 8)
    assert(partitionFilters(probe).nonEmpty, "no partition filter in scan")
  }

  test("ANN: appendToLshIndex maintains the index — appended vector found partition-pruned, base results unchanged") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_app").toString
    val base = e.filter(col("vec_id") >= 20)
    Similarity.writeLshIndex(base, "vec_id", "embedding", dir, dim = 64)
    val q = e.filter(col("vec_id") === 7)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    // before the append, vector 7 is not in the index
    val before = Similarity.lshTopKIndexed(spark, dir, q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(!before.contains(7L))
    // append the new batch; its self-match must now surface through the
    // SAME partition-pruned probe
    Similarity.appendToLshIndex(
      e.filter(col("vec_id") < 20), "vec_id", "embedding", dir, dim = 64)
    val probe = Similarity.lshTopKIndexed(spark, dir, q, 10)
    assert(partitionFilters(probe).nonEmpty, "append broke partition pruning")
    val after = probe.collect()
    assert(after.head.getLong(0) == 7L, "appended self-match not found")
    assert(math.abs(after.head.getDouble(1) - 1.0) < 1e-9)
    // nothing was rewritten: every base row is still in the layout
    assert(spark.read.parquet(dir).count() == e.count(),
      "append lost rows from the index layout")
  }

  test("ANN: appendToIvfIndex assigns to frozen PERSISTED centroids — appended vector found partition-pruned, nothing rewritten") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    val built = Similarity.writeIvfIndex(
      e.filter(col("vec_id") >= 20), "vec_id", "embedding", dir,
      nLists = 8, dim = 64)
    // the centroids the probe/append read back from the index must be
    // exactly the build's — a different set would mis-probe silently
    val persisted = Similarity.readIvfCentroids(spark, dir)
    assert(persisted.map(_._1).toSeq == built.sortBy(_._1).map(_._1).toSeq)
    assert(persisted.zip(built.sortBy(_._1)).forall {
      case ((_, a), (_, b)) => a.sameElements(b)
    }, "persisted centroids differ from the build's")
    val q = e.filter(col("vec_id") === 7)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    // before the append, vector 7 must NOT be in the index — the match
    // below is then attributable to the append specifically
    assert(!Similarity.ivfTopKIndexed(spark, dir, q, 10,
      nProbe = 2).collect().map(_.getLong(0)).contains(7L))
    Similarity.appendToIvfIndex(
      e.filter(col("vec_id") < 20), "vec_id", "embedding", dir, dim = 64)
    // self-match must surface through the same partition-pruned probe
    // (the self list always ranks first for its own vector)
    val probe = Similarity.ivfTopKIndexed(spark, dir, q, 10, nProbe = 2)
    assert(partitionFilters(probe).nonEmpty,
      s"append broke partition pruning")
    val top = probe.collect()
    assert(top.head.getLong(0) == 7L, "appended self-match not found")
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    assert(spark.read.parquet(dir).count() == e.count(),
      "append lost rows from the index layout")
    // appending a different-width batch must fail loudly, not mis-assign
    import spark.implicits._
    val wrongWidth = Seq((999L, Array.fill(32)(0.1f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(
        wrongWidth, "vec_id", "embedding", dir, dim = 32)
    }
  }

  test("ANN: LSH index rejects append/probe with mismatched build params") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_par").toString
    Similarity.writeLshIndex(e, "vec_id", "embedding", dir,
      numPlanes = 8, dim = 64)
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    // numPlanes mismatch: different planes → different buckets → a probe
    // or append would silently land in/visit directories the other side
    // never uses. Must throw instead.
    intercept[IllegalArgumentException] {
      Similarity.appendToLshIndex(
        e.limit(1), "vec_id", "embedding", dir, numPlanes = 16, dim = 64)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshTopKIndexed(spark, dir, q, 5, numPlanes = 16)
    }
    // matched params still work
    assert(Similarity.lshTopKIndexed(spark, dir, q, 5, numPlanes = 8)
      .collect().head.getLong(0) == 0L)
    // bucket bit p is 1 << p: a 32nd plane would alias bit 0
    intercept[IllegalArgumentException] {
      Similarity.writeLshIndex(e, "vec_id", "embedding", dir,
        numPlanes = 32, dim = 64)
    }
  }

  test("ANN: IVF top-k recall vs brute force; self-match always found") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", q, 10,
      nLists = 8, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
    assert(ivf.contains(0L)) // query's own vector lives in the probed list
  }

  test("ANN: brute-force top-1 is the query itself with cosine 1") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 7)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val top = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 1)
      .collect().head
    assert(top.getLong(0) == 7L)
    assert(math.abs(top.getDouble(1) - 1.0) < 1e-9)
  }

  test("topKJoin: each query gets k ranked neighbors") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val out = Similarity.topKJoin(e, queries, "vec_id", "embedding",
      "qid", "qv", 5).collect()
    assert(out.length == 15)
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to 5))
      // rank 1 = the query vector itself
      assert(rows.minBy(_.getInt(3)).getLong(1) == qid)
    }
  }

  test("language ID picks the language whose stopwords dominate") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog went to the house of a friend"),
      (2L, "der hund und die katze ist nicht von dem haus"),
      (3L, "el perro y la casa es de los amigos en la ciudad"),
      (4L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "es")
    assert(out(4L) == "und")
  }

  test("quality score ranges and monotonicity") {
    import spark.implicits._
    val df = Seq((1L, "short"), (2L, base + " " + base)).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(out(2L) > out(1L))
  }

  test("winnowing fingerprint is shift-robust-ish and deterministic") {
    val f1 = TextAnalysis.winnowingFingerprint(base)
    val f2 = TextAnalysis.winnowingFingerprint(base)
    assert(f1.sameElements(f2))
    assert(f1.nonEmpty)
    // prepending text preserves most window minima
    val f3 = TextAnalysis.winnowingFingerprint("PREFIX WORDS HERE " + base)
    val overlap = f1.toSet.intersect(f3.toSet).size.toDouble / f1.length
    assert(overlap > 0.5, s"overlap=$overlap")
  }

  test("native cosine expression: matches zip_with formulation, works from SQL, codegen and interpreted agree") {
    graft.functions.CosineSimilarity.register(spark)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 3)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val both = e.select(
      Similarity.cosineCol(col("embedding"), q).as("zip"),
      graft.functions.CosineSimilarity.cosine(
        col("embedding"), array(q.map(lit(_)): _*)).as("native"))
      .collect()
    // zip_with multiplies float*float in float precision; the native
    // expression promotes to double first — agreement to ~1e-7 is the
    // expected float-vs-double product error, not a logic divergence
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-7,
        s"zip=${r.getDouble(0)} native=${r.getDouble(1)}")
    }
    // SQL surface
    e.createOrReplaceTempView("emb_v")
    val viaSql = spark.sql(
      "SELECT graft_cosine(embedding, embedding) AS c FROM emb_v LIMIT 5")
      .collect()
    viaSql.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
    // interpreted path (nullSafeEval) must agree with codegen
    val expr = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        q, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        q, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    assert(math.abs(expr.eval(null).asInstanceOf[Double] - 1.0) < 1e-9)
  }

  test("native unicode normalize: NFC fuses, NFKC folds compatibility chars, strip inverts accents, codegen and interpreted agree") {
    import graft.functions.UnicodeNormalize
    UnicodeNormalize.register(spark)
    val composedE = "\u00e9"          // precomposed e-acute
    val decomposedE = "e\u0301"       // e + combining acute
    val df = spark.range(1).select(
      UnicodeNormalize.normalize(lit(decomposedE), "NFC").as("nfc"),
      UnicodeNormalize.normalize(
        lit("\ufb01ne \u00bd"), "NFKC").as("nfkc"),
      UnicodeNormalize.stripAccents(
        lit("d\u00e9j\u00e0 vu na\u00efve")).as("stripped"),
      UnicodeNormalize.normalize(lit(null).cast("string"), "NFC").as("nul"))
    val r = df.head()
    assert(r.getString(0) == composedE)
    assert(r.getString(1) == "fine 1\u20442")  // fi ligature, vulgar half
    assert(r.getString(2) == "deja vu naive")
    assert(r.isNullAt(3))
    // SQL surface via the registered builder (form is a plan-time literal)
    // 65 CC 81 = UTF-8 bytes of e + combining acute (Spark SQL's char()
    // is mod-256 ASCII and cannot spell a combining mark)
    val viaSql = spark.sql(
      "SELECT graft_normalize(decode(unhex('65CC81'), 'UTF-8'), 'NFC') AS c")
      .head().getString(0)
    assert(viaSql == composedE)
    // a non-literal form must be rejected at plan time, not guessed
    intercept[Exception] {
      spark.sql("SELECT graft_normalize('x', lower('NFC'))").head()
    }
    // interpreted path (nullSafeEval) must agree with codegen
    val expr = UnicodeNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString(decomposedE),
        org.apache.spark.sql.types.StringType),
      java.text.Normalizer.Form.NFC)
    assert(expr.eval(null).toString == composedE)
  }

  test("as-of join: ties inclusive, no prior row → null, no cross-key leakage") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (2L, 100L, 20L), (3L, 200L, 5L))
      .toDF("event_id", "user_id", "ts_us")
    val right = Seq((100L, 10L, 7L), (100L, 15L, 8L), (200L, 50L, 9L))
      .toDF("user_id", "r_ts", "r_val")
    val out = graft.ops.AsOfJoin
      .asOf(left, right, Seq("user_id"), "ts_us", "r_ts", Seq("r_ts", "r_val"))
      .orderBy("event_id").collect()
    // event 1 at ts=10: right row at ts=10 matches inclusively (val 7)
    assert(out(0).getAs[Long]("asof_r_val") == 7L)
    // event 2 at ts=20: latest right at 15 (val 8)
    assert(out(1).getAs[Long]("asof_r_val") == 8L)
    // event 3, user 200 at ts=5: right row is at 50 (future) → null
    assert(out(2).isNullAt(out(2).fieldIndex("asof_r_val")))
  }

  test("NATIVE as-of join (custom LogicalPlan+Strategy+Exec): edge cases + agrees with composed variant") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (2L, 100L, 20L), (3L, 200L, 5L))
      .toDF("event_id", "user_id", "ts_us")
    val right = Seq((100L, 10L, 7L), (100L, 15L, 8L), (200L, 50L, 9L))
      .toDF("user_id", "r_ts", "r_val")
    val out = graft.plans.AsOfJoinNative
      .asOf(left, right, Seq("user_id"), "ts_us", "r_ts")
      .select(col("event_id"), col("r_ts").as("m_ts"), col("r_val").as("m_val"))
      .orderBy("event_id").collect()
    assert(out(0).getAs[Long]("m_val") == 7L)  // tie inclusive
    assert(out(1).getAs[Long]("m_val") == 8L)  // latest at-or-before
    assert(out(2).isNullAt(out(2).fieldIndex("m_val"))) // future-only → null
    // plan shape: the custom exec is actually planned
    val df = graft.plans.AsOfJoinNative
      .asOf(left, right, Seq("user_id"), "ts_us", "r_ts")
    // physical nodes print without the "Exec" suffix
    assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin "))
    // physical-operator contract: a BARE collect (no Project above the
    // exec) must work — collect casts emitted rows to UnsafeRow, so the
    // exec must project its JoinedRows; regression for the raw-row bug
    assert(df.collect().length == 3)
    // name resolution follows the session's resolver (case-insensitive
    // under the default spark.sql.caseSensitive=false)
    assert(graft.plans.AsOfJoinNative
      .asOf(left, right, Seq("USER_ID"), "TS_US", "R_TS")
      .collect().length == 3)
    // mixed-width key types fail loudly instead of silently mismatching
    val widened = right.withColumn("user_id", col("user_id").cast("int"))
    val err = intercept[Exception] {
      graft.plans.AsOfJoinNative
        .asOf(left, widened, Seq("user_id"), "ts_us", "r_ts")
        .collect()
    }
    assert(err.getMessage != null &&
      err.getMessage.contains("key types must match"), err.getMessage)
    // larger randomized agreement check vs the composed operator
    val rnd = new scala.util.Random(7)
    val bigL = Seq.tabulate(500)(i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong))
      .toDF("event_id", "user_id", "ts_us")
    val bigR = Seq.tabulate(300)(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .toDF("user_id", "r_ts", "r_val")
      // dedupe (user_id, r_ts) so the as-of match is unique → both
      // implementations and any tie-break agree
      .groupBy("user_id", "r_ts").agg(max("r_val").as("r_val"))
    val native = graft.plans.AsOfJoinNative
      .asOf(bigL, bigR, Seq("user_id"), "ts_us", "r_ts")
      .select(col("event_id"), col("r_ts"), col("r_val"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val composed = graft.ops.AsOfJoin
      .asOf(bigL, bigR, Seq("user_id"), "ts_us", "r_ts", Seq("r_ts", "r_val"))
      .select(col("event_id"), col("asof_r_ts"), col("asof_r_val"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(native == composed)
  }

  test("centroid aggregator: mean of planted vectors; partial-merge path") {
    import spark.implicits._
    val vecs = Seq(
      (1, Array(1.0f, 2.0f)), (1, Array(3.0f, 4.0f)),
      (2, Array(10.0f, 20.0f))).toDS()
    val out = vecs.repartition(3) // force multiple partitions → merge()
      .groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.VectorAggregates.centroid(2).name("c"))
      .collect().toMap
    assert(out(1).sameElements(Array(2.0f, 3.0f)))
    assert(out(2).sameElements(Array(10.0f, 20.0f)))
  }

  test("IVF index: partition-pruned probe, recall vs brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val centroids = Similarity.writeIvfIndex(
      e, "vec_id", "embedding", dir, nLists = 8, dim = 64)
    assert(centroids.length <= 8 && centroids.nonEmpty)
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val probe = Similarity.ivfTopKIndexed(spark, dir, q, 5, nProbe = 3)
    assert(partitionFilters(probe).nonEmpty, "no partition filter in scan")
    val top = probe.collect()
    assert(top.head.getLong(0) == 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    // a query of another width must fail loudly, not rank on a prefix
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(spark, dir, q.take(32), 5, nProbe = 3)
    }
  }

  test("approx_count_distinct within 5% of exact on the query surface") {
    val rows = SparkEntry.queries("q_approx_distinct")(
      spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    // within_5pct is the gated output: the oracle asserts it as literal
    // TRUE, so a false here is exactly what the driver would catch
    rows.foreach { r =>
      assert(r.getBoolean(2),
        s"HLL estimate drifted past 5% for group ${r.get(0)}")
    }
  }

  test("salted join equals plain join on a skewed key") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // 5000 rows on one hot key + sparse tail
    val big = ((0 until 5000).map(i => (1L, i.toLong)) ++
      (0 until 200).map(i => (2L + rnd.nextInt(50).toLong, 10000L + i)))
      .toDF("k", "payload")
    val small = (1L to 60L).map(k => (k, s"dim_$k")).toDF("sk", "name")
    val salted = graft.ops.Skew
      .saltedJoin(big, small, "k", "sk", salts = 8, spreadCol = "payload")
      .select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val plain = big.join(small, big("k") === small("sk"))
      .select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(salted == plain && plain.size >= 5000)
  }

  test("salted aggregation equals plain aggregation") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val salted = graft.ops.Skew.saltedSumCount(li, Seq("l_returnflag"),
        col("l_quantity").cast("decimal(18,6)"), 8, "l_orderkey")
      .orderBy("l_returnflag").collect()
    val plain = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("sum_value"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect()
    assert(salted.length == plain.length)
    salted.zip(plain).foreach { case (s, p) =>
      assert(s.getString(0) == p.getString(0))
      assert(s.getDecimal(1).compareTo(p.getDecimal(1)) == 0)
      assert(s.getLong(2) == p.getLong(2))
    }
  }

  test("auto-salting: measured hot-key share picks salting; balanced keys stay plain") {
    import spark.implicits._
    import graft.ops.Skew
    // 90% of rows on one key → hot
    val hot = ((1 to 45000).map(i => (7L, i.toLong)) ++
      (1 to 5000).map(i => ((i % 50).toLong + 100L, i.toLong)))
      .toDF("k", "v")
    val (hotShare, sampled) = Skew.skewStats(hot, Seq("k"))
    assert(sampled > 0 && hotShare > 0.5, s"share=$hotShare n=$sampled")
    // balanced: uniform keys → low share
    val flat = (1 to 50000).map(i => ((i % 500).toLong, i.toLong)).toDF("k", "v")
    val (flatShare, _) = Skew.skewStats(flat, Seq("k"))
    assert(flatShare < 0.05, s"balanced share=$flatShare")
    // both paths produce the plain-agg truth
    def truth(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(sum(col("v")).as("sum_value"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def auto(df: org.apache.spark.sql.DataFrame) =
      Skew.autoSaltedSumCount(df, Seq("k"), col("v"), spreadCol = "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto(hot) == truth(hot))
    assert(auto(flat) == truth(flat))
  }

  test("metrics accumulators count chunks and requests") {
    import spark.implicits._
    val m = new graft.engine.Metrics(spark.sparkContext)
    val engine = new graft.engine.InceptionEngine(
      graft.config.EngineConfig.default, Some(m))
    val df = Seq((1L, "One sentence. Two sentences."), (2L, "Another."))
      .toDF("doc_id", "text")
    engine.embedDocuments(df).collect()
    assert(m.snapshot("request_count.batch") == 1L)
    assert(m.snapshot("chunk_count.text") >= 2L)
  }

  test("multimodal: real PNG/BMP decode — header metadata exact, batched matches per-row, resize preserves dims and colors") {
    import spark.implicits._
    val grad = Multimodal.encodePng(20, 10,
      (x, y) => ((x * 7) % 256, (y * 11) % 256, 42))
    val solid = Multimodal.encodePng(9, 9, (_, _) => (200, 100, 50))
    val df = Seq((1L, grad), (2L, solid), (3L, Array.empty[Byte]))
      .toDF("media_id", "media")
    // header parse is exact (no pixel inflation on the metadata path)
    assert(Multimodal.decodeImageMeta(grad) ==
      Multimodal.MediaMeta("png", 20, 10, 1, valid = true))
    assert(!Multimodal.decodeImageMeta("not an image".getBytes).valid)
    // BMP via the JDK's own writer round-trips through the same stats
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(solid))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    val bmp = bos.toByteArray
    assert(Multimodal.decodeImageMeta(bmp).format == "bmp")
    assert(Multimodal.decodeImageMeta(bmp).width == 9)
    assert(Multimodal.imageStatsOf(bmp).sum_r ==
      Multimodal.imageStatsOf(solid).sum_r)
    // batched kernel call shape is row-identical to the per-row variant
    val perRow = Multimodal.describeMedia(df)
      .select(col("media_id"), col("meta.format"), col("features"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Float](2).toVector)).toSet
    val batched = Multimodal.describeMediaBatched(
        df.as[(Long, Array[Byte])], batchSize = 2)
      .collect().map { case (id, m, f) => (id, m.format, f.toVector) }.toSet
    assert(batched == perRow)
    // real nearest-neighbor resize: exact target dims, solid color intact
    val rs = Multimodal.resizeImage(solid, 32, 16)
    assert(Multimodal.decodeImageMeta(rs) ==
      Multimodal.MediaMeta("png", 32, 16, 1, valid = true))
    val st = Multimodal.imageStatsOf(rs)
    assert((st.sum_r, st.sum_g, st.sum_b) ==
      (200L * 32 * 16, 100L * 32 * 16, 50L * 32 * 16))
    assert(Multimodal.resizeImage(solid, 32, 16).toSeq == rs.toSeq)
    assert(Multimodal.resizeImage("junk".getBytes, 8, 8).isEmpty)
    // features are decoded-pixel grid means: solid color → r/255 per cell
    val feats = Multimodal.extractFeatures(solid)
    assert(feats.length == 48)
    assert(feats(0) == (200.0 / 255.0).toFloat)
    assert(feats(1) == (100.0 / 255.0).toFloat)
    assert(feats(2) == (50.0 / 255.0).toFloat)
    assert(Multimodal.extractFeatures("junk".getBytes).forall(_ == 0f))
  }

  test("multimodal: GFRM frame container decodes and samples real frames") {
    import spark.implicits._
    def frame(k: Int) =
      Multimodal.encodePng(8, 8, (_, _) => (k * 10, 0, 0))
    val container = Multimodal.encodeFrameContainer((0 until 5).map(frame))
    val meta = Multimodal.decodeImageMeta(container)
    assert(meta.format == "gfrm" && meta.n_frames == 5 &&
      meta.width == 8 && meta.height == 8 && meta.valid)
    // evenly spaced sampling on the j*count/n lattice: 0, 1, 3
    val sampled = Multimodal.sampleFrames(container, 3)
    assert(sampled.map(f => Multimodal.imageStatsOf(f).sum_r / 64) ==
      Seq(0L, 10L, 30L))
    assert(Multimodal.sampleFrames("garbage".getBytes, 3).isEmpty)
    // Spark surface: per-frame features come from the decoded pixels
    val df = Seq((1L, container), (2L, container)).toDF("doc_id", "media")
    val frames = Multimodal.sampleVideoFrames(df, "doc_id", "media", 3)
      .collect()
    assert(frames.length == 6)
    assert(frames.map(_.getLong(0)).distinct.sorted.sameElements(Array(1L, 2L)))
    frames.foreach { r =>
      val k = Seq(0, 1, 3)(r.getInt(1) - 1)
      assert(r.getAs[scala.collection.Seq[Float]]("frame_features")(0) ==
        (k * 10 / 255.0).toFloat)
    }
  }

  test("multimodal: JPEG recognized — SOF marker-walk dims exact, lossy pixel round-trip within tolerance") {
    // the lake's dominant format: header metadata must be exact (pure
    // byte walk, no entropy decode), pixel values only approximate
    val jpg = Multimodal.encodeJpeg(24, 16, (_, _) => (100, 120, 140))
    assert(Multimodal.decodeImageMeta(jpg) ==
      Multimodal.MediaMeta("jpeg", 24, 16, 1, valid = true))
    // solid color survives the codec within a small tolerance per channel
    val st = Multimodal.imageStatsOf(jpg)
    val n = 24L * 16
    assert(math.abs(st.sum_r - 100 * n) <= 4 * n, s"sum_r=${st.sum_r}")
    assert(math.abs(st.sum_g - 120 * n) <= 4 * n)
    assert(math.abs(st.sum_b - 140 * n) <= 4 * n)
    // resize keeps working through the same ImageIO path
    assert(Multimodal.decodeImageMeta(
      Multimodal.resizeImage(jpg, 8, 8)).valid)
    // truncated-after-magic stream: invalid, never a guess or a crash
    assert(Multimodal.decodeImageMeta(
      Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)) ==
      Multimodal.MediaMeta("jpeg", 0, 0, 0, valid = false))
  }

  test("multimodal: corrupt GFRM containers are invalid, never a task crash") {
    def be(i: Int) = Array((i >> 24).toByte, (i >> 16).toByte,
      (i >> 8).toByte, i.toByte)
    val magic = "GFRM".getBytes
    // negative first-frame length: the old `12 + len` check overflowed
    // into copyOfRange; must classify invalid instead
    val neg = magic ++ be(1) ++ be(-5) ++ Array.fill(16)(0.toByte)
    val mNeg = Multimodal.decodeImageMeta(neg)
    assert(mNeg.format == "gfrm" && !mNeg.valid)
    // frame length past the buffer: invalid
    val over = magic ++ be(1) ++ be(1000) ++ Array.fill(4)(0.toByte)
    assert(!Multimodal.decodeImageMeta(over).valid)
    // a first frame that parses as no known format propagates ITS verdict
    // out (truncated first frame != valid container)
    val junkFrame = magic ++ be(1) ++ be(4) ++ Array.fill(4)(7.toByte)
    assert(!Multimodal.decodeImageMeta(junkFrame).valid)
    // sampleFrames stays total on the same inputs
    assert(Multimodal.sampleFrames(neg, 3).isEmpty)
    assert(Multimodal.sampleFrames(over, 3).isEmpty)
    // and an intact container still decodes after all that guarding
    val f = Multimodal.encodePng(4, 4, (_, _) => (9, 9, 9))
    val ok = Multimodal.encodeFrameContainer(Seq(f, f))
    assert(Multimodal.decodeImageMeta(ok).valid)
  }

  test("k-means: Lloyd loop evaluates the source projection once, not once per iteration") {
    import graft.ops.Clustering
    // count actual row materializations of the input projection with an
    // accumulator-instrumented column: without the in-loop persist a
    // 5-iteration run would evaluate it ~6x per row (centroid agg per
    // iteration + assignment); with it, once (+ scheduling slack)
    val acc = spark.sparkContext.longAccumulator("kmeans_scan_rows")
    val mk = udf { (id: Long) =>
      acc.add(1L)
      Array.tabulate(8)(j => ((id * 31 + j * 7) % 13).toFloat)
    }.asNondeterministic()
    val df = spark.range(200).select(col("id"), mk(col("id")).as("v"))
    val (_, cents) = Clustering.kMeans(df, "id", "v", k = 4, maxIters = 5,
      dim = 8)
    assert(cents.nonEmpty)
    assert(acc.value <= 2L * 200,
      s"source projection evaluated ${acc.value / 200.0}x per row — " +
        "the Lloyd loop is rescanning instead of reading the persisted " +
        "projection")
  }

  test("weighted sampling: k per group, deterministic across partitionings, weight dominance") {
    import spark.implicits._
    import graft.ops.Sampling
    // 3 groups x 40 docs with distinct weights
    val rows = for (g <- 0 until 3; i <- 0 until 40)
      yield (g.toLong * 100 + i, s"g$g", (i + 1).toDouble)
    val df = rows.toDF("id", "grp", "w")
    val s1 = Sampling.weightedSamplePerGroup(df, "grp", "id", "w", 7)
      .select("grp", "id", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val s2 = Sampling.weightedSamplePerGroup(
        df.repartition(11), "grp", "id", "w", 7)
      .select("grp", "id", "sample_rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(s1 == s2) // hash-driven: partitioning-independent
    assert(s1.groupBy(_._1).forall(_._2.size == 7))
    // an overwhelming weight is mathematically guaranteed rank 1:
    // key_heavy >= ln(2^-33)*1000/1e9 > ln(1-2^-33)*1e6 >= any light key
    val skewed = (Seq((999L, "s", 1e9)) ++
      (0 until 20).map(i => (i.toLong, "s", 0.001))).toDF("id", "grp", "w")
    val top = Sampling.weightedSamplePerGroup(skewed, "grp", "id", "w", 1)
      .select("id").head().getLong(0)
    assert(top == 999L)
    // non-positive weights are excluded, never ranked first
    val withZero = (Seq((1L, "z", 0.0), (2L, "z", -1.0), (3L, "z", 2.0)))
      .toDF("id", "grp", "w")
    val kept = Sampling.weightedSamplePerGroup(withZero, "grp", "id", "w", 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
  }

  test("gopherRules: each rule fires on its own violation; clean prose keeps") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val clean = ("the quick brown fox jumps over the lazy dog and runs " +
      "far into the deep green forest with great speed today ") * 5
    val tooShort = "the cat sat on the mat and slept"
    val symbols = clean + (" ####" * 30)
    val longWords = (("pneumonoultramicroscopic " * 60) + "the and is")
    val noStops = "zebra yak xylophone wombat vulture unicorn tiger " * 10
    val rows = Seq((1L, clean), (2L, tooShort), (3L, symbols),
      (4L, longWords), (5L, noStops)).toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.gopherRules(col("text")).as("g"))
      .select(col("doc_id"), col("g.*"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[Boolean]("keep"), "clean prose must keep")
    assert(!rows(2L).getAs[Boolean]("word_count_ok") &&
      !rows(2L).getAs[Boolean]("keep"))
    assert(!rows(3L).getAs[Boolean]("symbol_ratio_ok"))
    assert(!rows(4L).getAs[Boolean]("mean_word_len_ok"))
    assert(!rows(5L).getAs[Boolean]("stopword_ok"))
    // audit invariant: keep == conjunction of the four flags, always
    rows.values.foreach { r =>
      assert(r.getAs[Boolean]("keep") == (r.getAs[Boolean]("word_count_ok")
        && r.getAs[Boolean]("mean_word_len_ok")
        && r.getAs[Boolean]("symbol_ratio_ok")
        && r.getAs[Boolean]("stopword_ok")))
    }
  }

  test("splitAssign: fractions honored, deterministic, assignments never migrate as the corpus grows") {
    import spark.implicits._
    import graft.ops.Sampling
    val big = Sampling.splitAssign(
      spark.range(2000).toDF("id"), "id", seed = 42L, 0.9, 0.05)
      .select("id", "split").as[(Long, String)].collect().toMap
    val n = big.size.toDouble
    assert(math.abs(big.values.count(_ == "train") / n - 0.9) < 0.03)
    assert(math.abs(big.values.count(_ == "val") / n - 0.05) < 0.02)
    assert(math.abs(big.values.count(_ == "test") / n - 0.05) < 0.02)
    // the held-out contract: the first 500 ids keep their split when the
    // corpus grows to 2000 (membership is a function of (seed, id) only)
    val small = Sampling.splitAssign(
      spark.range(500).toDF("id"), "id", seed = 42L, 0.9, 0.05)
      .select("id", "split").as[(Long, String)].collect().toMap
    small.foreach { case (id, s) => assert(big(id) == s) }
    // a different seed is a different (but still complete) assignment
    val reseeded = Sampling.splitAssign(
      spark.range(500).toDF("id"), "id", seed = 43L, 0.9, 0.05)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(small.keys.exists(id => small(id) != reseeded(id)))
  }

  test("temperatureMix: shares sum to 1, tail sources boosted, alpha=1 is proportional") {
    import spark.implicits._
    import graft.ops.Sampling
    // 3 sources with 1000/100/10 docs — a strong head/tail skew
    val df = ((1 to 1000).map(_ => "big") ++ (1 to 100).map(_ => "mid") ++
      (1 to 10).map(_ => "tiny")).toDF("source")
    val m = Sampling.temperatureMix(df, "source", alpha = 0.3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(math.abs(m.values.map(_._2).sum - 1.0) < 1e-4) // p_raw
    assert(math.abs(m.values.map(_._3).sum - 1.0) < 1e-4) // p_mix
    assert(m("tiny")._4 > 1.0, "tail source must be upsampled")
    assert(m("big")._4 < 1.0, "head source must be downsampled")
    // temperature ordering: smaller source -> larger boost
    assert(m("tiny")._4 > m("mid")._4 && m("mid")._4 > m("big")._4)
    // alpha = 1 degenerates to the raw distribution (boost = 1)
    Sampling.temperatureMix(df, "source", alpha = 1.0).collect()
      .foreach(r => assert(math.abs(r.getDouble(4) - 1.0) < 1e-6))
  }

  test("epochShard: a true permutation per seed, stable across partitionings, no global sort") {
    import spark.implicits._
    import graft.ops.Sampling
    def run(parts: Int, seed: Long) = Sampling.epochShard(
        spark.range(500).toDF("id").repartition(parts), "id", seed, 8)
      .select("id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val a = run(4, 7L)
    // every doc exactly once, (shard, pos) is a dense rank per shard
    assert(a.map(_._1).distinct.length == 500)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1 to rows.length))
    }
    // deterministic across physical layouts
    assert(run(13, 7L).sortBy(_._1).sameElements(a.sortBy(_._1)))
    // a new seed is a genuinely different permutation
    val b = run(4, 8L)
    assert(a.sortBy(_._1).map(t => (t._2, t._3)) !=
      b.sortBy(_._1).map(t => (t._2, t._3)))
    // shards are balanced-ish (uniform hash): no shard more than 2x mean
    val sizes = a.groupBy(_._2).values.map(_.length)
    assert(sizes.max <= 2 * 500 / 8)
    // scale shape: the plan must not contain a single-partition window
    // (a global order-by rank would); partitioning is by shard
    val plan = Sampling.epochShard(
        spark.range(500).toDF("id"), "id", 7L, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global-sort shuffle in epochShard plan:\n$plan")
  }

  test("semanticDedup: planted exact duplicates collapse to the original id; originals stay canonical") {
    import spark.implicits._
    import graft.ops.Dedup
    val vecs = (0L until 60L).map { i =>
      val v = Array.tabulate(16)(j =>
        (graft.util.Hashing.mix64(i * 31 + j) % 1000) / 1000.0f)
      (i, v)
    }
    val planted = (vecs ++ vecs.collect {
      case (i, v) if i % 3 == 0 => (i + 1000L, v)
    }).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(planted, "vec_id", "embedding",
        threshold = 0.95, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 60 + 20)
    out.foreach { case (id, comp, canon) =>
      if (id >= 1000L) { assert(comp == id - 1000L); assert(!canon) }
      else assert(canon, s"original $id lost canonical status")
    }
  }

  test("k-means: deterministic across partitionings, self-consistent assignment, tol early-stop") {
    import graft.ops.Clustering
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (a1, c1) = Clustering.kMeans(
      e, "vec_id", "embedding", k = 8, maxIters = 2, dim = 64)
    val (a2, c2) = Clustering.kMeans(
      e.repartition(13), "vec_id", "embedding", k = 8, maxIters = 2, dim = 64)
    // bit-identical centroids and assignments on any partitioning
    assert(c1.map { case (id, c) => id -> c.toSeq }.toSeq ==
      c2.map { case (id, c) => id -> c.toSeq }.toSeq)
    val m1 = a1.select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val m2 = a2.select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m1 == m2)
    assert(m1.size == e.count())
    // every row's cluster is the argmax of the RETURNED centroids
    // (first-seen tie-break on the lowest cluster id)
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    vecs.take(50).foreach { case (id, v) =>
      val best = c1.foldLeft((-1, -2.0)) { case (acc @ (_, bs), (cid, c)) =>
        val s = graft.embed.Embedder.cosine(v, c)
        if (s > bs) (cid, s) else acc
      }._1
      assert(m1(id) == best, s"vec $id assigned ${m1(id)} != argmax $best")
    }
    // tol large enough → converges after the second refine (iteration 2
    // sees movement 0 relative to... ) run with generous budget: result
    // must equal the fixed-point the loop reaches without the cap
    val (_, cTol) = Clustering.kMeans(
      e, "vec_id", "embedding", k = 8, maxIters = 50, tol = 1e30, dim = 64)
    val (_, c2it) = Clustering.kMeans(
      e, "vec_id", "embedding", k = 8, maxIters = 2, dim = 64)
    assert(cTol.map(_._1).sameElements(c2it.map(_._1)))
  }

  test("connected components: chain + triangle collapse to min label; singletons keep themselves") {
    import spark.implicits._
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), // 4-chain, reversed edge
      (20L, 21L), (21L, 22L), (22L, 20L), // triangle
      (30L, 31L)) // pair
      .toDF("a", "b")
    val comps = ConnectedComponents.components(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L))
    val docs = Seq(1L, 2L, 3L, 4L, 30L, 31L, 99L).toDF("doc_id")
    val canon = ConnectedComponents
      .canonicalize(docs, "doc_id", edges.filter(col("a") < 10), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(canon.toSet == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 1L, false), (30L, 30L, true), (31L, 31L, true), (99L, 99L, true)))
  }

  test("int8 quantization: bounded reconstruction error, cosine preserved within 2%") {
    import spark.implicits._
    import graft.ops.Quantize
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Quantize.quantize(e, "embedding")
      .withColumn("deq", Quantize.dequantizeVec(col("qvec"), col("scale")))
    // max elementwise |x - deq| <= scale/2 (round-to-nearest)
    val bad = q.filter(exists(
      zip_with(col("embedding"), col("deq"),
        (x, y) => abs(x.cast("double") - y.cast("double")) > col("scale") * 0.5 + 1e-9),
      c => c)).count()
    assert(bad == 0, s"$bad vectors exceed the rounding error bound")
    // quantized range really is int8
    val outOfRange = q.filter(exists(col("qvec"),
      x => abs(x.cast("int")) > 127)).count()
    assert(outOfRange == 0)
    // cosine on quantized ints tracks exact cosine within 2%
    graft.functions.CosineSimilarity.register(spark)
    val a = q.select(col("vec_id").as("ida"), col("embedding").as("va"),
      col("qvec").as("qa"))
    val b = q.select(col("vec_id").as("idb"), col("embedding").as("vb"),
      col("qvec").as("qb"))
    val pairs = a.join(b, col("ida") < col("idb")).limit(500)
      .select(
        graft.functions.CosineSimilarity.cosine(col("va"), col("vb")).as("c"),
        Quantize.cosineQ(col("qa"), col("qb")).as("cq"))
    val maxErr = pairs.agg(max(abs(col("c") - col("cq")))).head().getDouble(0)
    assert(maxErr < 0.02, s"quantized cosine drifts $maxErr")
  }

  test("fuzzy join: delete-1 blocking finds exactly the brute-force lev<=1 pairs") {
    import spark.implicits._
    import graft.ops.FuzzyJoin
    val names = Seq(
      (1L, "Customer#001"), (2L, "Customer#002"), // sub at last char
      (3L, "Customer#0021"), // insertion vs 2
      (4L, "Custmer#002"), // deletion vs 2
      (5L, "Totally different"), (6L, "Customer#001")) // exact dup of 1
      .toDF("id", "name")
    val got = FuzzyJoin.pairsWithin1(names, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same rows
    val all = names.collect().map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib if lev(sa, sb) <= 1
    } yield (ia, ib)).toSet
    assert(got == want, s"got $got want $want")
  }

  test("approx percentile within rank error of exact; CMS overestimates by at most eps*n") {
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val Array(exact, approx) = l
      .select(expr("percentile(l_quantity, 0.5)"),
        expr("approx_percentile(l_quantity, 0.5, 100)"))
      .head().toSeq.map(_.toString.toDouble).toArray
    // accuracy=100 → rank error 1%; quantity is 1..50 so value slack is small
    assert(math.abs(exact - approx) <= 2.0, s"exact $exact approx $approx")
    val n = l.count()
    val lq = l.select(col("l_quantity").cast("long").as("q"))
    val cms = lq.stat.countMinSketch(col("q"), eps = 0.01,
      confidence = 0.99, seed = 42)
    val exactCnt = lq.filter(col("q") === 25L).count()
    val est = cms.estimateCount(25L)
    assert(est >= exactCnt, "CMS never underestimates")
    assert(est <= exactCnt + (0.01 * n).toLong + 1,
      s"CMS overestimate $est vs $exactCnt beyond eps*n")
  }

  test("native quantized cosine: matches HOF formulation, SQL-callable, codegen==interpreted") {
    import spark.implicits._
    import graft.ops.Quantize
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.functions.CosineSimilarityQ.register(spark)
    val q = Quantize.quantize(e, "embedding")
    val a = q.select(col("vec_id").as("ida"), col("qvec").as("qa"))
    val b = q.select(col("vec_id").as("idb"), col("qvec").as("qb"))
    val pairs = a.join(b, col("ida") < col("idb")).limit(200)
      .select(
        graft.functions.CosineSimilarityQ.cosineQ(col("qa"), col("qb")).as("native"),
        Quantize.cosineQ(col("qa"), col("qb")).as("hof"))
    val maxDiff = pairs.agg(max(abs(col("native") - col("hof"))))
      .head().getDouble(0)
    assert(maxDiff < 1e-12, s"native vs HOF drift $maxDiff")
    // SQL surface + interpreted path (codegen fallback) agree
    q.limit(4).createOrReplaceTempView("qv")
    val viaSql = spark.sql(
      "SELECT graft_cosine_q(qvec, qvec) AS c FROM qv").collect().map(_.getDouble(0))
    assert(viaSql.forall(c => math.abs(c - 1.0) < 1e-12), viaSql.mkString(","))
  }

  test("ANN over int8-quantized vectors: top-10 recall >= 0.8 vs float brute force") {
    import graft.ops.Quantize
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.functions.CosineSimilarity.register(spark)
    val qv = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val exact = graft.ops.Similarity
      .bruteForceTopK(e, "vec_id", "embedding", qv, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // quantize corpus AND query, rank by integer-dot cosine
    val q = Quantize.quantize(e, "embedding")
    val qq = Quantize.quantize(
      e.filter(col("vec_id") === 0).select(col("embedding")), "embedding")
      .select(col("qvec")).head().getAs[scala.collection.Seq[Byte]](0)
    val qLit = array(qq.toSeq.map(b => lit(b.toInt)): _*)
    val approx = q
      .withColumn("cq", Quantize.cosineQ(col("qvec"), qLit))
      .orderBy(col("cq").desc, col("vec_id"))
      .limit(10).select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size / 10.0
    assert(recall >= 0.8, s"quantized ANN recall $recall")
  }

  test("fuzzy join blocking recall: random single-edit mutations are always found") {
    import spark.implicits._
    import graft.ops.FuzzyJoin
    import org.scalacheck.{Gen, Prop}
    val base = Gen.chooseNum(6, 24)
      .flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))
    // one random edit: substitute, insert, or delete a char
    val mutated = for {
      s <- base
      pos <- Gen.chooseNum(0, s.length - 1)
      c <- Gen.alphaNumChar
      op <- Gen.oneOf(0, 1, 2)
    } yield (s, op match {
      case 0 => s.updated(pos, c).toString
      case 1 => s.substring(0, pos) + c + s.substring(pos)
      case 2 => s.substring(0, pos) + s.substring(pos + 1)
    })
    val prop = Prop.forAll(Gen.listOfN(6, mutated)) { pairs =>
      val rows = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
        Seq((i * 2L, a), (i * 2L + 1, b))
      }
      val found = FuzzyJoin
        .pairsWithin1(rows.toDF("id", "s"), "id", "s")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // every planted (2i, 2i+1) pair is within distance 1 → must be found
      pairs.indices.forall(i => found.contains((i * 2L, i * 2L + 1)))
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("merge upsert is idempotent and commutative-safe on re-application") {
    import spark.implicits._
    val base = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("id", "v", "version")
    val u = Seq((2L, "b2", 2L), (4L, "d", 2L)).toDF("id", "v", "version")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val once = Merge.upsert(base, u, Seq("id"), "version")
    val twice = Merge.upsert(once, u, Seq("id"), "version")
    assert(snap(once) == snap(twice), "re-applying the same change set must be a no-op")
  }

  test("merge upsert: updates win, inserts land, untouched rows survive; deletes drop keys") {
    import spark.implicits._
    val base = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("id", "v", "version")
    val updates = Seq((2L, "b2", 2L), (4L, "d", 2L)) // update + insert
      .toDF("id", "v", "version")
    val merged = Merge.upsert(base, updates, Seq("id"), "version")
      .orderBy("id").collect()
    assert(merged.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
    // merge plans a single aggregation, not a window sort or self-join
    val plan = Merge.upsert(base, updates, Seq("id"), "version")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
    val deleted = Merge.applyDeletes(base, Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    assert(deleted.select("id").as[Long].collect().sorted.sameElements(Array(1L, 3L)))
  }

  test("compaction: many small files rewritten to the byte-sized target count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
    val in = s"$dir/in"
    val out = s"$dir/out"
    // 64 tiny files
    (1 to 4096).map(i => (i.toLong, s"row $i")).toDF("id", "s")
      .repartition(64).write.parquet(in)
    val inFiles = new java.io.File(in).listFiles.count(_.getName.endsWith(".parquet"))
    assert(inFiles == 64)
    val n = Compaction.compact(spark, in, out, targetBytes = 1L << 20)
    val outFiles = new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    assert(outFiles == n && n < 8, s"expected few big files, got $n")
    assert(spark.read.parquet(out).count() == 4096)
    // sorted rewrite: files carry disjoint-ish id ranges for footer pruning
    val outSorted = s"$dir/out_sorted"
    Compaction.compactSorted(spark, in, outSorted, Seq("id"), targetBytes = 1L << 18)
    assert(spark.read.parquet(outSorted).count() == 4096)
  }

  test("connected components: 80-node chain converges in default maxIter via pointer jumping") {
    import spark.implicits._
    // one-hop min propagation alone needs 79 rounds; the shortcutting
    // step makes it O(log n), so default maxIter=25 must suffice
    val edges = (1L until 80L).map(i => (i, i + 1)).toDF("a", "b")
    val comps = ConnectedComponents.components(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length == 80 && comps.forall(_._2 == 1L))
  }

  test("connected components: hitting maxIter throws instead of returning split components") {
    import spark.implicits._
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.components(edges, "a", "b", maxIter = 2)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("quantized cosine edge semantics match the native kernel: zero vector, null element, length mismatch") {
    import spark.implicits._
    import graft.ops.Quantize
    val rows = Seq(
      (1L, Array[Option[Byte]](Some(0), Some(0), Some(0)),
        Array[Option[Byte]](Some(1), Some(2), Some(3))), // zero vector
      (2L, Array[Option[Byte]](Some(1), None, Some(3)),
        Array[Option[Byte]](Some(1), Some(2), Some(3))), // null element
      (3L, Array[Option[Byte]](Some(1), Some(2), Some(3), Some(4)),
        Array[Option[Byte]](Some(1), Some(2), Some(3))) // length mismatch
    ).toDF("id", "qa", "qb")
      .select(col("id"),
        col("qa").cast("array<tinyint>").as("qa"),
        col("qb").cast("array<tinyint>").as("qb"))
    val out = rows.select(col("id"),
        Quantize.cosineQ(col("qa"), col("qb")).as("hof"),
        graft.functions.CosineSimilarityQ.cosineQ(col("qa"), col("qb"))
          .as("native"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    out.foreach { case (id, hof, native) =>
      assert(!hof.isNaN && !native.isNaN, s"row $id produced NaN")
      assert(math.abs(hof - native) < 1e-9,
        s"row $id: hof=$hof native=$native diverge")
    }
    assert(out.find(_._1 == 1L).get._2 == 0.0)
  }

  test("gap fill conserves mass: dense grid counts sum to the raw event count") {
    val sf = "/root/testdata/sf0.001"
    // events.parquet is TIMESTAMP(NANOS); readable only as long nanos
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val grid = SparkEntry.queries("q_gapfill")(spark, sf)
    val total = grid.agg(sum(col("n"))).head().getLong(0)
    val raw = spark.read.parquet(s"$sf/events.parquet").count()
    assert(total == raw, s"grid total $total != raw $raw")
    // and the grid really is dense: every type covers the same full span
    val spans = grid.groupBy("event_type").count()
      .select("count").distinct().count()
    assert(spans == 1, "event types cover different grid spans")
  }

  test("multimodal audio: real WAV decode — header fields exact, known RMS, bytes never shuffle") {
    import spark.implicits._
    // RIFF/fmt/data round-trip: every header field decodes exactly
    val constWav = Multimodal.encodeWav(16000, Array.fill(300)(8192.toShort))
    val meta = Multimodal.decodeAudioMeta(constWav)
    assert(meta == Multimodal.AudioMeta("pcm_s16le", 16000, 300, valid = true))
    assert(!Multimodal.decodeAudioMeta("not audio".getBytes).valid)
    // sample decode: 8192/32768 = 0.25 exactly
    assert(Multimodal.decodeSamples(constWav, 4).toSeq ==
      Seq.fill(4)(0.25f))
    val rampWav = Multimodal.encodeWav(44100,
      Array.tabulate(500)(i => ((i * 64) % 65536 - 32768).toShort))
    val df = Seq((1L, constWav), (2L, rampWav)).toDF("doc_id", "media")
    val win = 256
    val out = Multimodal.audioEnergy(df, "doc_id", "media", win)
    val rows = out.collect()
    // per id: exactly ceil(n_samples / win) windows, numbered from 1
    Seq(1L, 2L).foreach { id =>
      val n = Multimodal.decodeAudioMeta(
        if (id == 1L) constWav else rampWav).n_samples
      val expect = (n + win - 1) / win
      val got = rows.filter(_.getLong(0) == id).map(_.getInt(1)).sorted
      assert(got.sameElements(1 to expect), s"id=$id windows=$got")
    }
    // constant-amplitude signal: RMS == the amplitude, exactly
    assert(rows.filter(_.getLong(0) == 1L).forall(_.getDouble(2) == 0.25))
    assert(rows.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    assert(out.collect().map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
    // scale shape: explode happens in the scan stage — no Exchange at all
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"audio plan shuffles bytes:\n$plan")
  }

  test("MLlib pipeline: TF-IDF features are L2-normalized; identical docs map to identical vectors") {
    import graft.ops.MlPipeline
    val df = docs(1L -> base, 2L -> base,
      3L -> "entirely different content about pasta cooking techniques and olive oil")
    val (feat, _) = MlPipeline.tfidfPipeline(df, "text")
    val rows = feat.select("doc_id", "features").collect()
      .map(r => r.getLong(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector]("features")).toMap
    // L2 norm 1 for non-empty docs
    rows.values.foreach { v =>
      val n = math.sqrt(v.toArray.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"norm $n != 1")
    }
    assert(rows(1L) == rows(2L), "identical docs must vectorize identically")
    val cos13 = {
      val a = rows(1L).toArray; val b = rows(3L).toArray
      a.zip(b).map { case (x, y) => x * y }.sum
    }
    assert(cos13 < 0.5, s"unrelated docs too similar: $cos13")
  }

  test("MLlib MinHashLSH finds the same planted near-dups as the hand-built banded LSH") {
    import graft.ops.MlPipeline
    val df = docs(
      1L -> base,
      2L -> base, // exact dup
      3L -> (base + " with a small appended tail"), // near dup
      4L -> "completely unrelated text about cooking pasta with garlic and olive oil and fresh basil leaves from the garden")
    val mlPairs = MlPipeline.minhashLshPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mlPairs.contains((1L, 2L)), "exact dup missed by ml LSH")
    assert(mlPairs.contains((1L, 3L)) || mlPairs.contains((2L, 3L)),
      "near dup missed by ml LSH")
    assert(!mlPairs.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc flagged by ml LSH")
    // agreement with the custom implementation on the same corpus
    val custom = Dedup.minHashPairs(df, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(custom.intersect(mlPairs).contains((1L, 2L)))
  }

  test("z-order layout localizes box predicates in BOTH dimensions; linear sort only in one") {
    import spark.implicits._
    import graft.ops.ZOrder
    val n = 64000
    // deterministic 2-D grid walk covering [0,1000)²
    val pts = (0 until n).map { i =>
      (i.toLong, (i * 257 % 1000).toDouble, (i * 997 % 1000).toDouble)
    }.toDF("id", "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder")
    val zPath = s"$dir/z"
    val linPath = s"$dir/linear"
    val files = 16
    ZOrder.writeZOrdered(pts, Seq("x", "y"), zPath, files)
    pts.repartitionByRange(files, col("x")).sortWithinPartitions("x")
      .write.parquet(linPath)
    def filesWithMatches(path: String,
        pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy("f").agg(count(when(pred, 1)).as("m"))
        .filter(col("m") > 0).count()
    // y-only box: the x-sorted layout scatters y everywhere (every file
    // matches); the z-ordered layout confines it to a strict subset
    val yBox = col("y") >= 100 && col("y") < 200
    val zy = filesWithMatches(zPath, yBox)
    val ly = filesWithMatches(linPath, yBox)
    assert(ly == files, s"x-sorted layout should scatter y: $ly")
    assert(zy < files / 2, s"z-order should localize y-box to <8 files, got $zy")
    // 2-D box: z-order touches few files too
    val box = col("x") >= 100 && col("x") < 200 && yBox
    assert(filesWithMatches(zPath, box) <= zy)
    // layout change loses no rows
    assert(spark.read.parquet(zPath).count() == n)
  }

  test("PII redaction removes every email/phone match, including adversarial forms") {
    import spark.implicits._
    val adversarial = Seq(
      "reach alice.smith+work@mail.example.org or +44-20-7946-0958 now",
      "double a@b.co c.d-e_f%g@h-i.jk.museum and +1-800-555-0100.",
      "no pii here at all",
      "edge: trailing dot user@example.com. and bare +12345678")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val redacted = adversarial.select(
      regexp_replace(regexp_replace(col("t"), SparkEntry.EmailRe, "<EMAIL>"),
        SparkEntry.PhoneRe, "<PHONE>").as("r"))
    val leftovers = redacted
      .filter(regexp_count(col("r"), lit(SparkEntry.EmailRe)) > 0 ||
        regexp_count(col("r"), lit(SparkEntry.PhoneRe)) > 0)
      .count()
    assert(leftovers == 0, "redacted text still matches a PII pattern")
    val r1 = redacted.collect().map(_.getString(0))
    assert(r1(0).contains("<EMAIL>") && r1(0).contains("<PHONE>"))
    assert(r1(2) == "no pii here at all")
  }

  test("incremental minhash index: probe matches one-shot pair search; append maintains it") {
    val all = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val oldCorpus = all.filter(col("doc_id") < 400)
    val batch = all.filter(col("doc_id") >= 400)
    val path = java.nio.file.Files.createTempDirectory("graft_mhidx").toString
    Dedup.writeMinhashIndex(oldCorpus, "doc_id", "text", path,
      maxBucketSize = 10000)
    val probe = Dedup.probeMinhashIndex(spark, path, batch, "doc_id", "text",
      threshold = 0.5)
    // the batch's banded keys broadcast to the index scan — the
    // corpus-side tables are probed in place, never shuffled
    val plan = probe.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"index probe must broadcast the batch side:\n$plan")
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // truth: the one-shot pair search over the union, restricted to
    // cross-boundary (old, new) pairs — identical banding parameters
    val full = Dedup.minHashPairs(all, "doc_id", "text", threshold = 0.5,
        maxBucketSize = 10000)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 400 && b >= 400 }
      .toSet
    assert(got == full,
      s"probe=${got.toSeq.sorted} vs one-shot=${full.toSeq.sorted}")
    assert(got.size >= 5, "expected planted cross-boundary near-dups")
    // append maintenance: after appending the batch, a copy of one of its
    // docs probes straight to it
    Dedup.appendToMinhashIndex(batch, "doc_id", "text", path,
      maxBucketSize = 10000)
    val copyOf450 = batch.filter(col("doc_id") === 450)
      .select(lit(99999L).as("doc_id"), col("text"))
    val hits = Dedup.probeMinhashIndex(spark, path, copyOf450, "doc_id",
      "text", threshold = 0.9)
    assert(hits.filter(col("old_id") === 450L).count() == 1,
      "appended doc not found by a later probe of its copy")
  }

  test("incremental agg: batch merges equal one-shot recompute; untouched buckets are never rewritten") {
    import spark.implicits._
    import graft.ops.IncrementalAgg
    val root = java.nio.file.Files.createTempDirectory("incragg")
    val path = root.resolve("state").toString
    val batch1 = (0 until 160).map(i => (s"k${i % 16}", i.toLong))
      .toDF("k", "v")
    IncrementalAgg.update(batch1, "k", "v", path, nBuckets = 8)
    // per-bucket file-name fingerprint: a rewritten bucket gets fresh
    // part-file names, an untouched one keeps its exact files
    def files(): Map[String, Set[String]] = {
      val d = new java.io.File(path)
      d.listFiles().filter(_.getName.startsWith("bucket="))
        .map(b => b.getName -> b.listFiles().map(_.getName).toSet).toMap
    }
    val before = files()
    assert(before.size > 1, s"want several buckets, got ${before.keySet}")
    val batch2 = Seq(("k3", 1000L), ("k3", -5L)).toDF("k", "v")
    IncrementalAgg.update(batch2, "k", "v", path, nBuckets = 8)
    val after = files()
    val k3Bucket = spark.range(1)
      .select(pmod(xxhash64(lit("k3")), lit(8L)).cast("int")).head().getInt(0)
    val changed = (before.keySet ++ after.keySet)
      .filter(b => before.get(b) != after.get(b))
    assert(changed == Set(s"bucket=$k3Bucket"),
      s"expected only k3's bucket to change, got $changed")
    // the params sidecar pins nBuckets: a later update with a WRONG
    // nBuckets argument must still route k3 to the same bucket
    IncrementalAgg.update(Seq(("k3", 7L)).toDF("k", "v"), "k", "v",
      path, nBuckets = 999)
    // merged state equals the one-shot aggregation of all three batches
    val got = IncrementalAgg.read(spark, path)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val want = batch1.unionByName(batch2)
      .unionByName(Seq(("k3", 7L)).toDF("k", "v"))
      .groupBy("k").agg(count(lit(1)), sum("v"), min("v"), max("v"))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want)
  }

  test("spanDedup: planted duplicate spans keep only their first (id, pos) occurrence; reassembly preserves order") {
    val d = docs(
      0L -> "a b c d e f",       // both spans first: survives intact
      1L -> "a b c x y z",       // "a b c" is doc 0's: half removed
      2L -> "a b c d e f",       // every span already seen: empty text
      3L -> "p q",               // single short tail span, unique
      4L -> "x y z a b c p q")   // all three spans seen earlier: empty
    val out = graft.ops.Dedup.spanDedup(d, "doc_id", "text", spanWords = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (0L, 2L, 0L, "a b c d e f"),
      (1L, 2L, 1L, "x y z"),
      (2L, 2L, 2L, ""),
      (3L, 1L, 0L, "p q"),
      (4L, 3L, 3L, "")))
    // determinism: the winner never depends on the input partitioning
    val re = graft.ops.Dedup.spanDedup(
        d.repartition(7), "doc_id", "text", spanWords = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(re.toSeq == out.toSeq)
  }

  /** Independent single-machine BPE fold (explicit greedy left-to-right
    * merge over symbol LISTS — no string-replace shortcut, so it cannot
    * share a representation bug with the implementation under test).
    */
  private def refBpe(
      ws: Seq[(String, Long)], k: Int): Seq[(String, String, Long)] = {
    var seqs = ws.map { case (w, f) => (w.map(_.toString).toList :+ "</w>", f) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var continue = true
    for (_ <- 1 to k if continue) {
      val counts = seqs.flatMap { case (s, f) =>
        s.zip(s.drop(1)).map(p => (p, f))
      }.groupMapReduce(_._1)(_._2)(_ + _)
      if (counts.isEmpty) continue = false
      else {
        val ((l, r), n) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((l, r, n))
        seqs = seqs.map { case (s, f) =>
          val merged = scala.collection.mutable.ListBuffer.empty[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
              merged += (l + r); i += 2
            } else { merged += s(i); i += 1 }
          }
          (merged.toList, f)
        }
      }
    }
    out.toSeq
  }

  test("BPE trainer learns the reference merge sequence on the classic corpus") {
    import spark.implicits._
    val corpus = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L))
    val (merges, _) = graft.ops.BpeTrainer.train(
      corpus.toDF("word", "freq"), "word", "freq", numMerges = 6)
    assert(merges.map(m => (m.lhs, m.rhs, m.n)) == refBpe(corpus, 6))
    assert(merges.map(_.step) == (1 to 6))
  }

  test("BPE merge is greedy left-to-right on repeated symbols (boundary-share regression)") {
    import spark.implicits._
    // 'aaaa' → pairs (a,a)x3; a boundary-sharing replace would merge
    // only the first occurrence and learn a different step-2 pair
    val corpus = Seq(("aaaa", 1L))
    val (merges, _) = graft.ops.BpeTrainer.train(
      corpus.toDF("word", "freq"), "word", "freq", numMerges = 2)
    assert(merges.map(m => (m.lhs, m.rhs, m.n)) == refBpe(corpus, 2))
    assert(merges.head == graft.ops.BpeTrainer.Merge(1, "a", "a", 3L))
  }

  test("BPE encode applies learned merges to fresh words as a narrow plan") {
    import spark.implicits._
    val corpus = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L))
    val (merges, trained) = graft.ops.BpeTrainer.train(
      corpus.toDF("word", "freq"), "word", "freq", numMerges = 6)
    val enc = graft.ops.BpeTrainer.encode(
      corpus.toDF("word", "freq"), "word", "freq", merges)
    // encoding the training corpus == the trainer's final sequence table
    val got = enc.select("word", "seq").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val want = trained.select("word", "seq").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == want)
    // the encode chain is narrow: no Exchange anywhere in its plan
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode shuffles:\n$plan")
  }

  test("PCA: orthonormal basis, descending eigenvalues, variance identity") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val d = 64
    val model = graft.ops.Pca.fit(e, "embedding", d, d)
    // Basis is orthonormal: max |VᵀV - I| tiny.
    var maxDev = 0.0
    for (a <- 0 until d; b <- a until d) {
      var s = 0.0
      var i = 0
      while (i < d) { s += model.components(a)(i) * model.components(b)(i); i += 1 }
      maxDev = math.max(maxDev, math.abs(s - (if (a == b) 1.0 else 0.0)))
    }
    assert(maxDev < 1e-9, s"basis not orthonormal, dev=$maxDev")
    // Eigenvalues descending and non-negative.
    assert(model.eigenvalues.forall(_ >= 0.0))
    assert(model.eigenvalues.zip(model.eigenvalues.tail)
      .forall { case (x, y) => x >= y - 1e-12 })
    // Variance identity (the eigensolver's actual contract): the
    // variance of the data projected on axis c equals eigenvalue c.
    val proj = graft.ops.Pca.project(e, "vec_id", "embedding", model)
      .select(col("proj")).collect().map(_.getSeq[Double](0).toArray)
    val n = proj.length.toDouble
    for (c <- 0 until 4) {
      val xs = proj.map(_(c))
      val mu = xs.sum / n
      val v = xs.map(x => (x - mu) * (x - mu)).sum / n
      assert(math.abs(v - model.eigenvalues(c)) <=
        1e-9 * math.max(1.0, model.eigenvalues(c)),
        s"axis $c: projected variance $v != eigenvalue ${model.eigenvalues(c)}")
    }
    // Total variance is preserved by the full-rank rotation.
    val trace = model.eigenvalues.sum
    val pn2 = proj.map(p => p.map(x => x * x).sum).sum / n
    val meanN2 = {
      val mus = (0 until d).map(c => proj.map(_(c)).sum / n)
      mus.map(m => m * m).sum
    }
    assert(math.abs((pn2 - meanN2) - trace) < 1e-9 * trace)
    // k < d truncates to the TOP axes (prefix of the full basis).
    val m4 = graft.ops.Pca.fit(e, "embedding", d, 4)
    assert(m4.k == 4)
    assert(m4.eigenvalues.toSeq == model.eigenvalues.take(4).toSeq)
  }

  test("PageRank: mass conservation and star-graph ordering") {
    import spark.implicits._
    // Symmetric star 1<->2, 1<->3, 1<->4: no dangling nodes, so total
    // mass stays 1; the hub must outrank the (identically-ranked) leaves.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L),
      (4L, 1L)).toDF("src", "dst")
    val r = graft.ops.PageRank.ranks(edges, "src", "dst", iters = 5)
      .collect().map(row => row.getLong(0) ->
        row.getDecimal(1).doubleValue()).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      s"mass not conserved: ${r.values.sum}")
    assert(r(1) > r(2), s"hub must outrank leaves: $r")
    assert(r(2) == r(3) && r(3) == r(4), s"leaves must tie exactly: $r")
    // The distributed result matches a driver-side replay of the same
    // synchronous recurrence (h' = base + 0.85·3l; l' = base + 0.85·h/3)
    // to within the 1e-12 state quantization.
    var h = 0.25
    var l = 0.25
    for (_ <- 1 to 5) {
      val hn = 0.15 / 4 + 0.85 * 3 * l
      val ln = 0.15 / 4 + 0.85 * h / 3
      h = hn; l = ln
    }
    assert(math.abs(r(1) - h) < 1e-9, s"hub ${r(1)} != replay $h")
    assert(math.abs(r(2) - l) < 1e-9, s"leaf ${r(2)} != replay $l")
  }

  test("PageRank: per-iteration checkpoint keeps the plan O(1) in depth") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L),
      (4L, 1L)).toDF("src", "dst")
    def planSize(iters: Int): Int =
      graft.ops.PageRank.ranks(edges, "src", "dst", iters)
        .queryExecution.analyzed.toString.linesIterator.size
    // Each iteration eagerly localCheckpoints, so the returned frame's
    // plan is a single LogicalRDD regardless of depth — the lineage the
    // r7 verdict flagged as quadratically growing must not reappear.
    val p2 = planSize(2)
    val p8 = planSize(8)
    assert(p2 == p8,
      s"plan grew with iterations: $p2 lines at depth 2, $p8 at depth 8")
  }

  test("LogReg GD: loss decreases and weights are partitioning-independent") {
    import spark.implicits._
    // Separable toy set: y = 1 iff f1 > 0 (bias + one live feature).
    val rows = (0 until 200).map { i =>
      val f1 = (i % 21).toDouble / 10.0 - 1.0
      (if (f1 > 0) 1.0 else 0.0, 1.0, f1)
    }
    val df = rows.toDF("y", "f0", "f1")
    val w = graft.ops.LogReg.train(df, "y", Seq("f0", "f1"), iters = 8,
      lr = 1.0)
    val l0 = graft.ops.LogReg.logLoss(df, "y", Seq("f0", "f1"),
      Array(0.0, 0.0))
    val l8 = graft.ops.LogReg.logLoss(df, "y", Seq("f0", "f1"), w)
    assert(l8 < l0, s"loss did not decrease: $l0 -> $l8")
    assert(w(1) > 0.0, s"live feature got non-positive weight: ${w.toSeq}")
    // THE determinism contract: the trajectory is a pure function of
    // the data — any partitioning yields byte-identical weights.
    val w3 = graft.ops.LogReg.train(df.repartition(3), "y",
      Seq("f0", "f1"), iters = 8, lr = 1.0)
    val w13 = graft.ops.LogReg.train(df.repartition(13), "y",
      Seq("f0", "f1"), iters = 8, lr = 1.0)
    assert(w.toSeq == w3.toSeq && w.toSeq == w13.toSeq,
      s"weights depend on partitioning: ${w.toSeq} vs ${w3.toSeq} vs ${w13.toSeq}")
  }

  test("PQ: distortion beats 1-centroid codebooks, codes spread, partition-independent") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m16 = graft.ops.Pq.fit(e, "vec_id", "embedding",
      dim = 64, m = 8, k = 16, iters = 2)
    val enc = graft.ops.Pq.encode(e, "vec_id", "embedding", m16)
      .select("vec_id", "codes", "err2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // k=1 degenerates every subspace to (roughly) its mean — the PQ
    // distortion upper bound. Real codebooks must beat it decisively.
    val m1 = graft.ops.Pq.fit(e, "vec_id", "embedding",
      dim = 64, m = 8, k = 1, iters = 1)
    val err1 = graft.ops.Pq.encode(e, "vec_id", "embedding", m1)
      .agg(sum("err2")).head().getDouble(0)
    val err16 = enc.map(_._3).sum
    // These embeddings are near-isotropic noise — the hardest case for
    // PQ; 16 codes per 8-dim subspace still must cut distortion ~40%
    // (measured 0.60×; a gaussian-rate bound predicts ~16^(-2/8)≈0.5).
    assert(err16 < 0.7 * err1,
      s"16-code distortion $err16 not clearly below 1-code $err1")
    // The 8 code positions should use a healthy slice of the codebook.
    val used = enc.flatMap(_._2.split("-").zipWithIndex.map(_.swap)).toSet
    assert(used.size > 8 * 8, s"only ${used.size} (sub, code) pairs used")
    // Same corpus, different partitioning -> byte-identical codes.
    val m16b = graft.ops.Pq.fit(e.repartition(7), "vec_id", "embedding",
      dim = 64, m = 8, k = 16, iters = 2)
    val encB = graft.ops.Pq.encode(e.repartition(5), "vec_id", "embedding",
      m16b).select("vec_id", "codes", "err2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(enc.sortBy(_._1).toSeq == encB.sortBy(_._1).toSeq,
      "PQ codes depend on partitioning")
    // ADC search: the query itself must rank first (its ADC distance is
    // its own reconstruction error), and the approximate top-10 must
    // recall a meaningful share of the exact L2 top-10.
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    val q = vecs(0L)
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0
      var i = 0
      while (i < a.length) {
        val t = a(i).toDouble - b(i); d += t * t; i += 1
      }
      d
    }
    val exactTop = vecs.toSeq.map { case (id, v) => (id, l2(q, v)) }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val encDf = graft.ops.Pq.encode(e, "vec_id", "embedding", m16)
    val adcTop = graft.ops.Pq.adcTopK(encDf, "vec_id", m16, q, 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(adcTop.head == 0L, s"query not first in ADC: ${adcTop.toSeq}")
    // Isotropic noise is PQ's worst case (pairwise distances
    // concentrate): measured recall@10 is 0.2 — 10× the 10/500 = 0.02
    // chance level. Gate at 0.15 so the check catches a broken ADC
    // (which scores ~chance) without flaking on the honest floor.
    val recall = adcTop.count(exactTop).toDouble / 10.0
    assert(recall >= 0.15,
      s"ADC recall@10 $recall at/below chance — ADC ranking broken")
  }

  test("HeavyHitters: sketch candidates cover true top-k under adversarial skew") {
    import spark.implicits._
    // 2 hot keys buried in 10k singleton cold keys; capacity far below
    // the distinct-key count, 8 partitions.
    val rows = Seq.fill(1000)("hot_a") ++ Seq.fill(800)("hot_b") ++
      (0 until 10000).map(i => s"cold_$i") ++ Seq.fill(500)("warm_c")
    val df = rows.toDF("w").repartition(8)
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val trueTop = exact.toSeq.sortBy { case (w, n) => (-n, w) }
      .take(3).map(_._1)
    val cands = graft.ops.HeavyHitters.sketchCandidates(df, "w", 64)
    trueTop.foreach { w =>
      assert(cands.contains(w), s"sketch lost heavy key $w")
    }
    // End-to-end: two-phase top-3 equals the exact groupBy top-3,
    // counts exact.
    val got = graft.ops.HeavyHitters.topK(df, "w", 3, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == trueTop.map(w => (w, exact(w))),
      s"two-phase top-3 wrong: $got")
  }

  test("HLL sketches are mergeable: per-source union == global, estimate sane") {
    // The at-scale distinct-count pattern: sketch once per shard/source,
    // MERGE the tiny sketches instead of re-scanning — Spark 4's
    // DataSketches HLL surface (hll_sketch_agg / hll_union_agg /
    // hll_sketch_estimate). Mergeability must be EXACT (union of
    // per-source sketches == one global sketch), estimate within the
    // sketch's error bound of the true distinct count.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = docs.select(col("source"),
      explode(expr(
        "filter(split(lower(text), '[^a-z0-9_]+'), w -> w <> '')"))
        .as("w"))
    val perSource = toks.groupBy("source")
      .agg(expr("hll_sketch_agg(w, 14)").as("sk"))
    val merged = perSource
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))"))
      .head().getLong(0)
    val global = toks
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(w, 14))"))
      .head().getLong(0)
    assert(merged == global,
      s"sketch union not exact: merged=$merged global=$global")
    val exact = toks.select("w").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"HLL estimate $merged vs exact $exact outside 5%")
  }

  test("BPE trainer stops when every word is a single symbol") {
    import spark.implicits._
    val (merges, seqs) = graft.ops.BpeTrainer.train(
      Seq(("ab", 2L)).toDF("word", "freq"), "word", "freq", numMerges = 10)
    // 'ab</w>' needs exactly 2 merges; further iterations must not loop
    assert(merges.length == 2)
    assert(seqs.select("seq").collect().map(_.getString(0)).toSeq ==
      Seq("{ab</w>}"))
  }

  test("matryoshka ANN: degenerate candidates == brute force; pruned recall high") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val n = e.count().toInt
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    // candidates == corpus size: the coarse stage prunes nothing, so the
    // rerank IS brute force — ids must agree exactly, in order
    val degen = Similarity.matryoshkaTopK(
      e, "vec_id", "embedding", q, k = 10, coarseDim = 16, candidates = n)
      .collect().map(_.getLong(0)).toSeq
    assert(degen == exact, s"degenerate matryoshka diverged: $degen vs $exact")
    // real pruning (50 of ~600 candidates survive the 16-dim cut):
    // recall against full-dim truth stays high, self-match guaranteed
    val pruned = Similarity.matryoshkaTopK(
      e, "vec_id", "embedding", q, k = 10, coarseDim = 16, candidates = 50)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact.toSet intersect pruned).size.toDouble / exact.size
    assert(recall >= 0.5, s"matryoshka recall=$recall")
    assert(pruned.contains(0L))
  }

  /** 64-bit FNV-1a over a stream of longs (ids, raw double/float bits,
    * chars), one whole long per step. */
  private final class Fnv {
    var h = 0xcbf29ce484222325L
    def mix(x: Long): Unit = h = (h ^ x) * 0x100000001b3L
    def dbl(d: Double): Unit = mix(java.lang.Double.doubleToLongBits(d))
    def floats(v: Iterable[Float]): Unit = v.foreach(f =>
      mix(java.lang.Float.floatToIntBits(f).toLong & 0xffffffffL))
    def str(s: String): Unit = { s.foreach(c => mix(c.toLong)); mix(-1L) }
  }

  private def rowsDigest(df: org.apache.spark.sql.DataFrame): Long = {
    val f = new Fnv
    df.collect().foreach { r =>
      r.toSeq.foreach {
        case l: Long => f.mix(l)
        case i: Int => f.mix(i.toLong)
        case d: Double => f.dbl(d)
        case b: java.math.BigDecimal => f.str(b.toPlainString)
        case s: String => f.str(s)
        case o => fail(s"undigested value $o")
      }
      f.mix(-2L) // row separator
    }
    f.h
  }

  private def centroidsDigest(cs: Array[(Int, Array[Float])]): Long = {
    val f = new Fnv
    cs.foreach { case (id, c) => f.mix(id.toLong); f.floats(c) }
    f.h
  }

  test("ANN/IVF/PQ/k-means outputs are pinned bit for bit") {
    // ids, raw cosine bits, bucket/list choice and centroid floats of
    // every vector top-k surface; any drift in scoring, ranking,
    // bucketing or IVF training moves one of these
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val lshDir = java.nio.file.Files.createTempDirectory("graft_pin_lsh").toString
    Similarity.writeLshIndex(e, "vec_id", "embedding", lshDir,
      numPlanes = 8, dim = 64)
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_pin_ivf").toString
    val ivfCentroids = Similarity.writeIvfIndex(
      e, "vec_id", "embedding", ivfDir, nLists = 6, dim = 64)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val pq = graft.ops.Pq.fit(e, "vec_id", "embedding",
      dim = 64, m = 8, k = 16, iters = 2)
    val pqBooks = new Fnv
    pq.codebooks.foreach(b => pqBooks.mix(centroidsDigest(b)))
    val got = Seq(
      "bruteForceTopK" -> rowsDigest(
        Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10)),
      "matryoshkaTopK" -> rowsDigest(Similarity.matryoshkaTopK(
        e, "vec_id", "embedding", q, k = 10, coarseDim = 16, candidates = 50)),
      "lshTopK" -> rowsDigest(Similarity.lshTopK(e, "vec_id", "embedding",
        q, 10, numPlanes = 8, probeHamming = 3)),
      "lshTopKIndexed" -> rowsDigest(Similarity.lshTopKIndexed(
        spark, lshDir, q, 10, numPlanes = 8, probeHamming = 3)),
      "lshTopKMultiProbe" -> rowsDigest(Similarity.lshTopKMultiProbe(
        spark, lshDir, q, 10, numPlanes = 8, nProbes = 8)),
      "ivfTopK" -> rowsDigest(Similarity.ivfTopK(e, "vec_id", "embedding",
        q, 10, nLists = 6, nProbe = 3)),
      "ivfTopKIndexed" -> rowsDigest(
        Similarity.ivfTopKIndexed(spark, ivfDir, q, 10, nProbe = 3)),
      "topKJoin" -> rowsDigest(Similarity.topKJoin(e, queries, "vec_id",
        "embedding", "qid", "qv", 5).orderBy("query_id", "rank")),
      "writeIvfIndex" -> centroidsDigest(ivfCentroids),
      "kMeans" -> centroidsDigest(graft.ops.Clustering.kMeans(
        e, "vec_id", "embedding", k = 5, maxIters = 2, dim = 64)._2),
      "Pq.fit" -> pqBooks.h,
      "Pq.ivfAdcTopK" -> rowsDigest(graft.ops.Pq.ivfAdcTopK(e, "vec_id",
        "embedding", pq, numPlanes = 3, nProbe = 3, q, 10)))
    // recorded before the scorer/ranking/bucket/IVF-trainer refactor
    val pinned = Map(
      "bruteForceTopK" -> 0x82d31900b0aabcf6L,
      "matryoshkaTopK" -> 0x30f0798a7f946e34L,
      "lshTopK" -> 0xfe2ab1d89e49fde6L,
      "lshTopKIndexed" -> 0xfe2ab1d89e49fde6L,
      "lshTopKMultiProbe" -> 0xb77de9deee784f9eL,
      "ivfTopK" -> 0x49c2e128989e2ef7L,
      "ivfTopKIndexed" -> 0x49c2e128989e2ef7L,
      "topKJoin" -> 0x12ae142f01f6a39eL,
      "writeIvfIndex" -> 0x3e8c8e3e8fd5f89bL,
      "kMeans" -> 0xeb283ba8f6e9635fL,
      "Pq.fit" -> 0x0098be909d351b56L,
      "Pq.ivfAdcTopK" -> 0x5aa37e72aa87b320L)
    val drift = got.filterNot { case (name, d) => pinned.get(name).contains(d) }
    assert(drift.isEmpty, drift.map { case (name, d) =>
      f""""$name" -> 0x$d%016xL""" }.mkString("digests moved: ", ", ", ""))
  }

  test("KMV sketch: mergeability — union of sketches == sketch of union") {
    import spark.implicits._
    val a = (1 to 400).map(i => ("a", s"tok$i"))
    val b = (200 to 600).map(i => ("b", s"tok$i"))
    val df = (a ++ b).toDF("grp", "v")
    val k = 64
    val sk = graft.ops.Sketch.kmvSketch(df, "grp", "v", k)
    // merge by hand: k smallest distinct (unsigned-ordered) hashes of the
    // two sketches' union
    val mergedHand = sk.select("h", "f").distinct()
      .orderBy("f").limit(k)
      .collect().map(_.getLong(0)).toSet
    // sketch of the concatenated data under ONE group
    val skAll = graft.ops.Sketch.kmvSketch(
      df.withColumn("grp", lit("all")), "grp", "v", k)
      .collect().map(_.getAs[Long]("h")).toSet
    assert(mergedHand == skAll,
      "union-of-sketches != sketch-of-union (KMV must be mergeable)")
  }

  test("KMV distinct estimate within the k-bound error of exact") {
    import spark.implicits._
    val df = (1 to 5000).map(i => ("g", s"value_$i")).toDF("grp", "v")
    val est = graft.ops.Sketch.kmvDistinctEst(df, "grp", "v", 128)
      .head().getAs[Double]("distinct_est")
    // KMV standard error ~ 1/sqrt(k-2) ≈ 8.9% at k=128; allow 3 sigma
    assert(math.abs(est - 5000) / 5000.0 < 0.27, s"est=$est vs 5000")
    // small set: sketch is the exact value set
    val small = (1 to 50).map(i => ("g", s"v$i")).toDF("grp", "v")
    val exactEst = graft.ops.Sketch.kmvDistinctEst(small, "grp", "v", 128)
      .head().getAs[Double]("distinct_est")
    assert(exactEst == 50.0)
  }

  test("KMV overlap: jaccard estimate tracks truth on constructed slices") {
    import spark.implicits._
    // A = 1..1000, B = 501..1500 → true jaccard = 500/1500 = 1/3
    val a = (1 to 1000).map(i => ("a", s"w$i"))
    val b = (501 to 1500).map(i => ("b", s"w$i"))
    val out = graft.ops.Sketch.kmvOverlap(
      (a ++ b).toDF("grp", "v"), "grp", "v", 256).head()
    val jac = out.getAs[Double]("jaccard_est")
    assert(math.abs(jac - 1.0 / 3.0) < 0.12, s"jaccard_est=$jac vs 0.333")
    val inter = out.getAs[Double]("intersection_est")
    assert(inter > 250 && inter < 800, s"intersection_est=$inter vs 500")
  }

  test("native fnv64 expression: codegen == interpreted == Hashing.fnv; SQL surface; null-safe") {
    import graft.functions.FnvHash64
    FnvHash64.register(spark)
    val samples = Seq("", "a", "hello world", "café über",
      "漢字", "tok12345")
    import spark.implicits._
    // codegen path (column over rows) must equal the single JVM source
    // of truth, graft.util.Hashing.fnv — pins the inlined constants
    val viaCol = samples.toDF("s")
      .select(col("s"), FnvHash64.fnv64(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    samples.foreach { s =>
      assert(viaCol(s) == graft.util.Hashing.fnv(s),
        s"fnv64 diverged on '$s'")
    }
    // interpreted path (nullSafeEval)
    val expr = FnvHash64(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString("hello world"),
        org.apache.spark.sql.types.StringType))
    assert(expr.eval(null) == viaCol("hello world"))
    // SQL surface + null in, null out
    val viaSql = spark.sql(
      "SELECT graft_fnv64('hello world') AS h, " +
        "graft_fnv64(CAST(NULL AS STRING)) AS n").head()
    assert(viaSql.getLong(0) == viaCol("hello world"))
    assert(viaSql.isNullAt(1))
  }

  test("fnv64 UTF8String kernel: byte-decode == toString fold on all " +
      "UTF-8 shapes incl. malformed; cont algebra; codegen == interpreted") {
    import graft.functions.{FnvHash64, FnvHash64Cont}
    import org.apache.spark.unsafe.types.UTF8String
    val H = graft.util.Hashing
    // 1/2/3/4-byte sequences, boundaries, mixes — the in-place decoder
    // must land on exactly the code units String decoding produces
    val samples = Seq("", "a", "hello world", "café über", "漢字",
      "߿ࠀ￿", "🙂 mixed🚀 ascii", "𝄞clef",
      "tok12345", ":", "0:", "199")
    samples.foreach { x =>
      assert(H.fnvUtf8(UTF8String.fromString(x)) == H.fnv(x),
        s"fnvUtf8 diverged on '$x'")
    }
    // malformed/overlong/truncated bytes: must fall back to Java's
    // replacement-char decoding, i.e. still equal fnv(toString)
    val bad = Seq(
      Array[Byte](0x61, 0xc0.toByte, 0xaf.toByte),          // overlong 2B
      Array[Byte](0xe0.toByte, 0x80.toByte, 0x80.toByte),   // overlong 3B
      Array[Byte](0xed.toByte, 0xa0.toByte, 0x80.toByte),   // surrogate
      Array[Byte](0xf5.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte),
      Array[Byte](0x61, 0xe2.toByte),                        // truncated
      Array[Byte](0x80.toByte, 0x61))                        // bare cont
    bad.foreach { b =>
      val u = UTF8String.fromBytes(b)
      assert(H.fnvUtf8(u) == H.fnv(u.toString),
        s"fnvUtf8 diverged on malformed ${b.mkString(",")}")
    }
    // continuation algebra: cont(fnv(p), s) == fnv(p ++ s)
    for (p <- Seq("", "12345:", "id:", "漢"); x <- Seq("", "0", "199", "字"))
      assert(H.fnvCont(H.fnv(p), x) == H.fnv(p + x),
        s"fnvCont algebra broke on '$p' ++ '$x'")
    // expression surface: codegen (column) and interpreted (eval) agree
    FnvHash64.register(spark)
    FnvHash64Cont.register(spark)
    val viaSql = spark.sql(
      """SELECT graft_fnv64_cont(graft_fnv64('id7:'), '42') AS c,
           graft_fnv64('id7:42') AS f,
           graft_fnv64_cont(CAST(NULL AS BIGINT), 'x') AS n""").head()
    assert(viaSql.getLong(0) == viaSql.getLong(1))
    assert(viaSql.getLong(0) == H.fnv("id7:42"))
    assert(viaSql.isNullAt(2))
    val interp = FnvHash64Cont(
      org.apache.spark.sql.catalyst.expressions.Literal(H.fnv("id7:")),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        UTF8String.fromString("42"),
        org.apache.spark.sql.types.StringType))
    assert(interp.eval(null) == H.fnv("id7:42"))
  }

  test("native bounded levenshtein: banded kernel == min(full builtin, " +
      "k+1) on random pairs; codegen == interpreted; null-safe") {
    import graft.functions.BoundedLevenshtein
    BoundedLevenshtein.register(spark)
    import spark.implicits._
    // deterministic pair set incl. length gaps, unicode, equal strings
    val rnd = new scala.util.Random(7)
    val alpha = "abcde"
    def word(n: Int) =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val pairs = (Seq(("", ""), ("", "abc"), ("same", "same"),
      ("kitten", "sitting"), ("café über", "cafe uber")) ++
      (1 to 60).map(_ => (word(rnd.nextInt(30)), word(rnd.nextInt(30)))))
    for (k <- Seq(0, 1, 3, 8)) {
      val got = pairs.toDF("a", "b")
        .select(col("a"), col("b"),
          expr(s"graft_lev_bounded(a, b, $k)").as("d"),
          least(expr("levenshtein(a, b)"), lit(k + 1)).as("ref"))
        .collect()
      got.foreach { r =>
        assert(r.getInt(2) == r.getInt(3),
          s"k=$k diverged on ('${r.getString(0)}','${r.getString(1)}')" +
            s": got ${r.getInt(2)}, builtin-clamped ${r.getInt(3)}")
      }
    }
    // interpreted path agrees with the kernel
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val e = BoundedLevenshtein(
      Literal.create(UTF8String.fromString("kitten"),
        org.apache.spark.sql.types.StringType),
      Literal.create(UTF8String.fromString("sitting"),
        org.apache.spark.sql.types.StringType),
      Literal.create(5, org.apache.spark.sql.types.IntegerType))
    assert(e.eval(null) == 3)
    assert(graft.util.StringAlgos.boundedLev("kitten", "sitting", 2) == 3)
    // null in, null out via SQL
    val viaSql = spark.sql(
      "SELECT graft_lev_bounded(CAST(NULL AS STRING), 'x', 2)").head()
    assert(viaSql.isNullAt(0))
  }

  test("native jaro-winkler: DuckDB-pinned vectors; codegen == interpreted == kernel; null-safe") {
    import graft.functions.{JaroWinkler, JaroWinklerAlgo}
    JaroWinkler.register(spark)
    // vectors pinned against DuckDB 1.0 jaro_winkler_similarity this
    // session (boost threshold 0.7, prefix scale 0.1, empty -> 0.0)
    val vectors = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("TRATE", "TRACE", 0.9066666666666667),
      ("ab", "axxxxxxx", 0.5416666666666666), // jaro<0.7: no boost
      ("ab", "ba", 0.0), // window clamp: max(0, 2/2-1)=0
      ("a", "a", 1.0),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0))
    vectors.foreach { case (a, b, exp) =>
      assert(math.abs(JaroWinklerAlgo.similarity(a, b) - exp) < 1e-12,
        s"kernel diverged on ($a, $b)")
    }
    import spark.implicits._
    // codegen path over rows == kernel
    val got = vectors.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(col("a"), col("b"),
        JaroWinkler.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    vectors.foreach { case (a, b, exp) =>
      assert(math.abs(got((a, b)) - exp) < 1e-12,
        s"codegen diverged on ($a, $b)")
    }
    // interpreted path (nullSafeEval)
    def slit(s: String) =
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)
    assert(math.abs(
      JaroWinkler(slit("MARTHA"), slit("MARHTA")).eval(null)
        .asInstanceOf[Double] - 0.9611111111111111) < 1e-12)
    // SQL surface + null in, null out
    val viaSql2 = spark.sql(
      "SELECT graft_jaro_winkler('TRATE', 'TRACE') AS jw, " +
        "graft_jaro_winkler(CAST(NULL AS STRING), 'x') AS n").head()
    assert(math.abs(viaSql2.getDouble(0) - 0.9066666666666667) < 1e-12)
    assert(viaSql2.isNullAt(1))
  }

  test("hits: bipartite scores bounded, max-normalized, sides separated") {
    import spark.implicits._
    // star-ish bipartite graph: hub 1 points to parts 10,11,12; hub 2
    // to 10 only — part 10 must out-rank 11/12, hub 1 must out-rank 2
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L))
      .toDF("src", "dst")
    val out = graft.ops.Hits.scores(e, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getDecimal(1).doubleValue(), r.getDecimal(2).doubleValue()))
      .toMap
    // pure sources have authority 0; pure sinks have hub 0
    assert(out(1L)._1 == 0.0 && out(2L)._1 == 0.0)
    assert(out(10L)._2 == 0.0 && out(11L)._2 == 0.0)
    // max-normalization: best authority and best hub are exactly 1
    assert(out(10L)._1 == 1.0, s"auth(10)=${out(10L)._1}")
    assert(out(1L)._2 == 1.0, s"hub(1)=${out(1L)._2}")
    // ordering: 10 (two in-edges) > 11 == 12; hub 1 > hub 2
    assert(out(10L)._1 > out(11L)._1 && out(11L)._1 == out(12L)._1)
    assert(out(1L)._2 > out(2L)._2)
    assert(out.values.forall { case (a, h) =>
      a >= 0.0 && a <= 1.0 && h >= 0.0 && h <= 1.0 })
  }

  test("late-round invariants: growth identity, survival monotonicity, SRM bounds, lorenz shape") {
    val dir = "/root/testdata/sf0.001"
    // growth accounting: active = new + retained + resurrected, every month
    SparkEntry.queries("q_growth_accounting")(spark, dir).collect()
      .foreach { r =>
        assert(r.getAs[Long]("n_active") == r.getAs[Long]("n_new")
          + r.getAs[Long]("n_retained") + r.getAs[Long]("n_resurrected"),
          s"growth identity broken at m=${r.getAs[Long]("m")}")
      }
    // KM log-survival is nonincreasing in duration
    val surv = SparkEntry.queries("q_survival")(spark, dir).collect()
      .map(_.getAs[Double]("log_s"))
    assert(surv.zip(surv.drop(1)).forall { case (a, b) => b <= a + 1e-9 },
      s"log-survival must be nonincreasing: ${surv.mkString(",")}")
    // SRM: arms sum to the user universe; chi2 nonnegative
    val srm = SparkEntry.queries("q_ab_srm")(spark, dir).head()
    val users = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").distinct().count()
    assert(srm.getAs[Long]("n_a") + srm.getAs[Long]("n_b") == users)
    assert(srm.getAs[Double]("srm_chi2") >= 0.0)
    // lorenz: cumulative shares end at exactly 1.0 and are monotone
    val lz = SparkEntry.queries("q_lorenz")(spark, dir).collect()
    val pop = lz.map(_.getAs[Double]("cum_pop_share"))
    val rev = lz.map(_.getAs[Double]("cum_rev_share"))
    assert(math.abs(pop.last - 1.0) < 1e-9 &&
      math.abs(rev.last - 1.0) < 1e-9)
    assert(pop.zip(pop.drop(1)).forall { case (a, b) => b >= a } &&
      rev.zip(rev.drop(1)).forall { case (a, b) => b >= a })
  }

  test("ml-eval gates: auc bounds, confusion totals, calibration bins, linreg r2") {
    val dir = "/root/testdata/sf0.001"
    val auc = SparkEntry.queries("q_roc_auc")(spark, dir).head()
    val a = auc.getAs[Double]("auc")
    assert(a >= 0.0 && a <= 1.0, s"auc=$a")
    assert(auc.getAs[Long]("n_pos") > 0 && auc.getAs[Long]("n_neg") > 0)
    val cm = SparkEntry.queries("q_confusion")(spark, dir).head()
    val total = cm.getAs[Long]("tp") + cm.getAs[Long]("fp") +
      cm.getAs[Long]("fn") + cm.getAs[Long]("tn")
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(total == nDocs, s"confusion cells sum $total != $nDocs docs")
    val cal = SparkEntry.queries("q_calibration")(spark, dir).collect()
    assert(cal.nonEmpty && cal.forall { r =>
      val m = r.getAs[Double]("mean_score")
      m >= 0.0 && m <= 1.0
    })
    val lr = SparkEntry.queries("q_linreg")(spark, dir).collect()
    assert(lr.nonEmpty && lr.forall { r =>
      val r2 = r.getAs[Double]("r2")
      r2 >= 0.0 && r2 <= 1.0
    })
  }

  test("native shingle generator: streams (pos, fnv) rows; short/null docs emit none") {
    import graft.functions.WordShingles
    WordShingles.register(spark)
    import spark.implicits._
    Seq((1L, "Alpha beta GAMMA delta"), (2L, "one two"),
      (3L, null.asInstanceOf[String]))
      .toDF("id", "text").createOrReplaceTempView("sh_v")
    val rows = spark.sql(
      """SELECT id, pos, shingle_hash FROM sh_v
         LATERAL VIEW graft_shingles(text, 3) t AS pos, shingle_hash
         ORDER BY id, pos""").collect()
    // 4 words -> 2 trigram shingles for doc 1; docs 2 (short) and 3
    // (null) emit nothing
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 1L))
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 1))
    assert(rows(0).getLong(2) == graft.util.Hashing.fnv("alpha beta gamma"))
    assert(rows(1).getLong(2) == graft.util.Hashing.fnv("beta gamma delta"))
    // width must be a plan-time literal
    intercept[Exception] {
      spark.sql("SELECT graft_shingles('a b c', 1 + 2)").collect()
    }
  }

  test("incremental KMV state over out-of-order batches == one-shot; replay merges are no-ops") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_kmv_tbl")
      .toString + "/t"
    val all = (1 to 900).map(i => (s"g${i % 3}", s"w$i")).toDF("grp", "v")
    val k = 64
    def applyBatch(b: org.apache.spark.sql.DataFrame): Unit = {
      val sk = graft.ops.Sketch.kmvSketch(b, "grp", "v", k)
      if (graft.table.TxnTable.latestVersion(spark, root).isEmpty)
        graft.table.TxnTable.create(spark, root, sk)
      else graft.table.TxnTable.overwrite(spark, root,
        graft.ops.Sketch.mergeSketches(
          graft.table.TxnTable.snapshot(spark, root), sk, k))
    }
    // out-of-order thirds
    val b1 = all.filter(expr("cast(substring(v, 2) as int) % 3 = 2"))
    val b2 = all.filter(expr("cast(substring(v, 2) as int) % 3 = 0"))
    val b3 = all.filter(expr("cast(substring(v, 2) as int) % 3 = 1"))
    Seq(b1, b2, b3).foreach(applyBatch)
    val oneShot = graft.ops.Sketch.kmvSketch(all, "grp", "v", k)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    def state() = graft.table.TxnTable.snapshot(spark, root)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(state() == oneShot, "incremental state diverged from one-shot")
    // KMV merge is idempotent: replaying a batch cannot change the state
    applyBatch(b2)
    assert(state() == oneShot, "replayed batch changed the sketch state")
  }

  test("leakage-safe split: every component's members share one split") {
    import spark.implicits._
    val df = docs(
      1L -> base,
      2L -> base, // near-dup cluster {1,2,3}
      3L -> (base + " with a small appended tail"),
      4L -> "completely unrelated text about cooking pasta with garlic and olive oil and fresh basil leaves from the garden")
    val pairs = Dedup.minHashPairs(df, "doc_id", "text", threshold = 0.3)
      .select("doc_a", "doc_b")
    val comp = ConnectedComponents
      .canonicalize(df, "doc_id", pairs, "doc_a", "doc_b")
    val split = graft.ops.Sampling.splitAssign(
      comp.select(col("doc_id"), col("component")), "component",
      seed = 42L, trainFrac = 0.6, valFrac = 0.2)
    // per component exactly one distinct split value
    val perComp = split.groupBy("component")
      .agg(countDistinct("split").as("n"))
      .collect().map(_.getLong(1)).toSet
    assert(perComp == Set(1L), "a component straddles splits")
    // the planted near-dup trio must share a split
    val trio = split.filter(col("doc_id").isin(1L, 2L, 3L))
      .select("split").distinct().count()
    assert(trio == 1L)
  }

  /** (relative path → (length, mtime)) of every data file in the index
    * layout's partition dirs — the fingerprint the scoped-refresh
    * assertions compare. */
  private def indexFiles(dir: String): Map[String, (Long, Long)] = {
    val root = new java.io.File(dir)
    root.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}" ->
          (f.length(), f.lastModified())))
      .toMap
  }

  test("ANN: source-bound LSH index — a table delete STALES it; the " +
      "checked probe refuses; refresh rewrites ONLY the deleted " +
      "vector's bucket dir and the probe stops returning it") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = java.nio.file.Files
      .createTempDirectory("graft_lsh_src").toString
    val tableRoot = s"$base/table"; val idx = s"$base/index"
    graft.table.TxnTable.create(spark, tableRoot, e)
    graft.table.TxnTable.enableCdf(spark, tableRoot, Seq("vec_id"))
    Similarity.writeLshIndexFromTable(
      spark, tableRoot, "vec_id", "embedding", idx,
      numPlanes = 8, dim = 64)
    assert(Similarity.indexStaleness(spark, idx).isEmpty,
      "a just-built index must be fresh")
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val before = Similarity.lshTopKIndexedChecked(
      spark, idx, q, 10, numPlanes = 8, probeHamming = 3).collect()
    assert(before.head.getLong(0) == 0L, "self-match before the delete")
    // the staling write: vector 0 leaves the table, not the index
    graft.table.TxnTable.deleteWhere(spark, tableRoot,
      col("vec_id") === 0)
    assert(Similarity.indexStaleness(spark, idx).nonEmpty,
      "the delete must be visible as staleness")
    // refuse path: a plain checked probe must fail LOUDLY
    val ex = intercept[Similarity.StaleIndexException] {
      Similarity.lshTopKIndexedChecked(
        spark, idx, q, 10, numPlanes = 8, probeHamming = 3)
    }
    assert(ex.getMessage.contains(tableRoot))
    // refresh path: scoped to the deleted vector's bucket dir
    val filesBefore = indexFiles(idx)
    val after = Similarity.lshTopKIndexedChecked(
      spark, idx, q, 10, numPlanes = 8, probeHamming = 3,
      refreshIfStale = true).collect()
    assert(!after.map(_.getLong(0)).contains(0L),
      "refreshed probe must not return the deleted vector")
    assert(Similarity.indexStaleness(spark, idx).isEmpty,
      "refresh must record the new source version")
    val filesAfter = indexFiles(idx)
    val untouchedBefore = filesBefore.filter { case (k, _) =>
      filesAfter.get(k).contains(filesBefore(k)) }
    val changedDirs = (filesBefore.keySet ++ filesAfter.keySet)
      .filterNot(k => untouchedBefore.contains(k))
      .map(_.split("/").head)
    assert(changedDirs.size == 1,
      s"refresh must rewrite exactly the deleted vector's bucket dir, " +
        s"touched: $changedDirs")
    // idempotence: a second refresh is a no-op
    assert(!Similarity.refreshLshIndex(spark, idx,
      numPlanes = 8, dim = 64))
  }

  test("ANN: source-bound IVF index — refuse on stale, refresh drops " +
      "the deleted vector, centroids stay frozen") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_src").toString
    val tableRoot = s"$base/table"; val idx = s"$base/index"
    graft.table.TxnTable.create(spark, tableRoot, e)
    graft.table.TxnTable.enableCdf(spark, tableRoot, Seq("vec_id"))
    Similarity.writeIvfIndexFromTable(
      spark, tableRoot, "vec_id", "embedding", idx,
      nLists = 8, dim = 64)
    val cBefore = Similarity.readIvfCentroids(spark, idx)
      .map { case (i, c) => (i, c.toSeq) }.toSeq
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    assert(Similarity.ivfTopKIndexedChecked(spark, idx, q, 10,
      nProbe = 3).collect().head.getLong(0) == 0L)
    graft.table.TxnTable.deleteWhere(spark, tableRoot,
      col("vec_id") === 0)
    intercept[Similarity.StaleIndexException] {
      Similarity.ivfTopKIndexedChecked(spark, idx, q, 10, nProbe = 3)
    }
    val after = Similarity.ivfTopKIndexedChecked(spark, idx, q, 10,
      nProbe = 3, refreshIfStale = true).collect()
    assert(!after.map(_.getLong(0)).contains(0L))
    assert(Similarity.indexStaleness(spark, idx).isEmpty)
    // the refresh assigns against the persisted centroids — it must
    // never move them (the appendToIvfIndex maintenance contract)
    val cAfter = Similarity.readIvfCentroids(spark, idx)
      .map { case (i, c) => (i, c.toSeq) }.toSeq
    assert(cBefore == cAfter, "refresh must not retrain centroids")
  }

  test("DEDUP: source-bound MinHash index — tombstone refresh drops " +
      "deleted docs' pairs WITHOUT rewriting bands/sigs; a later " +
      "insert folds in as an append") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut = maxId * 9 / 10
    val base = java.nio.file.Files
      .createTempDirectory("graft_mh_src").toString
    val tableRoot = s"$base/table"; val idx = s"$base/index"
    graft.table.TxnTable.create(spark, tableRoot,
      docs.filter(col("doc_id") <= cut))
    graft.table.TxnTable.enableCdf(spark, tableRoot, Seq("doc_id"))
    Dedup.writeMinhashIndexFromTable(
      spark, tableRoot, "doc_id", "text", idx)
    val batch = docs.filter(col("doc_id") > cut)
    def probe(refresh: Boolean): Set[(Long, Long)] = {
      spark.catalog.clearCache()
      Dedup.probeMinhashIndexChecked(spark, idx, batch,
        "doc_id", "text", refreshIfStale = refresh)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val before = probe(refresh = false)
    assert(before.nonEmpty, "fixture must land at least one near-dup pair")
    val victim = before.map(_._1).min
    graft.table.TxnTable.deleteWhere(spark, tableRoot,
      col("doc_id") === victim)
    // refuse path
    intercept[Similarity.StaleIndexException] { probe(refresh = false) }
    def listing(sub: String): Map[String, Long] =
      new java.io.File(s"$idx/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    val sigsBefore = listing("sigs"); val bandsBefore = listing("bands")
    val after = probe(refresh = true)
    assert(!after.exists(_._1 == victim),
      "deleted doc must stop matching")
    assert(after == before.filterNot(_._1 == victim),
      "only the deleted doc's pairs may change")
    // a delete-only refresh appends ONE tombstone — index tables are
    // byte-identical, nothing was rewritten
    assert(listing("sigs") == sigsBefore &&
      listing("bands") == bandsBefore,
      "tombstone refresh must never rewrite bands/sigs")
    assert(new java.io.File(s"$idx/_tombstones").exists())
    // INSERT fold: a corpus append identical to a batch doc surfaces
    // as a new self-match pair after the next refresh
    val bdoc = batch.orderBy("doc_id").head()
    val newId = maxId + 1000
    graft.table.TxnTable.append(spark, tableRoot,
      spark.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(newId, bdoc.getString(1))),
        batch.schema))
    val after2 = probe(refresh = true)
    assert(after2.contains((newId, bdoc.getLong(0))),
      s"appended duplicate $newId of batch doc ${bdoc.getLong(0)} " +
        "must surface through the refreshed index")
  }

  test("ANN: source-bound refresh folds INSERTS too — an appended " +
      "vector surfaces through the checked probe after refresh") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = java.nio.file.Files
      .createTempDirectory("graft_lsh_ins").toString
    val tableRoot = s"$base/table"; val idx = s"$base/index"
    graft.table.TxnTable.create(spark, tableRoot,
      e.filter(col("vec_id") =!= 7))
    graft.table.TxnTable.enableCdf(spark, tableRoot, Seq("vec_id"))
    Similarity.writeLshIndexFromTable(
      spark, tableRoot, "vec_id", "embedding", idx,
      numPlanes = 8, dim = 64)
    val q = e.filter(col("vec_id") === 7)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val before = Similarity.lshTopKIndexedChecked(
      spark, idx, q, 10, numPlanes = 8, probeHamming = 3).collect()
    assert(!before.map(_.getLong(0)).contains(7L))
    graft.table.TxnTable.append(spark, tableRoot,
      e.filter(col("vec_id") === 7))
    val after = Similarity.lshTopKIndexedChecked(
      spark, idx, q, 10, numPlanes = 8, probeHamming = 3,
      refreshIfStale = true).collect()
    assert(after.head.getLong(0) == 7L && after.head.getDouble(1) > 0.999,
      "appended self-match must surface after the source-bound refresh")
  }
}
