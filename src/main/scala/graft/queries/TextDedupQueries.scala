package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.engine.InceptionEngine

/** Text-analysis, dedup/similarity, profiling and multimodal extension queries (training-data pipeline ops).
  *
  * Split out of SparkEntry.scala (round 16): members mix into
  * [[SparkEntry]] and resolve against its full surface via the
  * self-type; mixin order in SparkEntry preserves the original
  * declaration (and so val-initialization) order.
  */
private[graft] trait SparkEntryTextDedup { this: SparkEntry.type =>

  // ------------------------------------------------------------------
  // Text analysis extensions (training-data pipeline ops)
  // ------------------------------------------------------------------

  /** Per-doc text statistics (token counts, punctuation, word length). */
  def qTextStats(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(split(trim(col("text")), "[ \\t\\n]+")).as("n_tokens_ws"),
        length(regexp_replace(col("text"), "[^.!?,;:]", "")).as("n_punct"),
        round(
          length(regexp_replace(col("text"), "[ \\t\\n]", "")).cast("double") /
            size(split(trim(col("text")), "[ \\t\\n]+")),
          6).as("avg_word_len"))
      .orderBy("doc_id")

  /** Exact-dup fingerprint: md5 over text, group stats (dedup base). */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
      .orderBy("content_hash")

  // ------------------------------------------------------------------
  // Dedup / similarity / profiling / multimodal extensions
  // ------------------------------------------------------------------

  /** Marker words appended to build deterministic near-duplicates for the
    * dedup_ngram oracle (each doc compared against itself + this suffix).
    */
  val NearDupSuffix = " zulu yankee qoph"

  /** MinHash+LSH near-dup detection on the REAL documents (the synthetic
    * corpus plants ~24 near-dup pairs at trigram-Jaccard 0.9-0.99; the
    * next-densest pair sits below 0.2). LSH proposes candidates (est
    * threshold 0.35 — recall for j>=0.9 is 1-1e-15), exact shingle
    * Jaccard >= 0.5 confirms — which the oracle replicates by brute-force
    * all-pairs trigram Jaccard (feasible at oracle scale only; the Spark
    * side never goes all-pairs).
    */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup
      .minHashPairs(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", threshold = 0.35)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** SimHash near-dup pairs on the real documents. Hamming<=3 over a
    * 64-bit word-feature fingerprint is not SQL-expressible → rows-only
    * check here; recall/precision asserted in DedupSpec.
    */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup
      .simHashPairs(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", maxHamming = 3)
      .orderBy("doc_a", "doc_b")

  /** Exact word-trigram Jaccard: each doc vs itself + appended marker
    * words — nonzero, per-doc-varying values the DuckDB oracle replicates
    * with list algebra.
    */
  def qDedupNgram(s: SparkSession, dir: String): DataFrame = {
    val sh = udf((t: String) => graft.ops.Dedup.shingles(t, 3))
    val jac = udf((a: Array[Long], b: Array[Long]) =>
      graft.ops.Dedup.jaccard(a, b))
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        round(jac(sh(col("text")),
          sh(concat(col("text"), lit(NearDupSuffix)))), 6).as("jaccard"))
      .orderBy("doc_id")
  }

  /** Embedding-cosine near-dup via hyperplane LSH over planted vector
    * copies (embeddings table is 64-dim; max off-diagonal cosine in the
    * synthetic data ≈0.46, so threshold 0.95 isolates the planted pairs).
    */
  def qNearDupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(e.select((col("vec_id") + 100000).as("vec_id"),
      col("embedding")))
    graft.ops.Dedup
      .embeddingNearDup(planted, "vec_id", "embedding",
        threshold = 0.95, dim = 64)
      .select("doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup CLUSTERING: the step downstream of pair generation every
    * dedup pipeline needs — minhash pairs → distributed connected
    * components (ops/ConnectedComponents: min-label propagation,
    * converges in O(diameter) rounds) → one canonical keeper per
    * component across ALL documents (singletons keep themselves). The
    * oracle replays the components with a recursive-CTE transitive
    * closure over the same brute-force pair set.
    */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = graft.ops.Dedup
      .minHashPairs(docs, "doc_id", "text", threshold = 0.35)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b")
    graft.ops.ConnectedComponents
      .canonicalize(docs, "doc_id", pairs, "doc_a", "doc_b")
      .orderBy("doc_id")
  }

  /** The END-TO-END training-data prep pipeline in one plan — what a
    * user actually runs over a crawl: near-dup clustering keeps one
    * canonical doc per component, then language + quality gates, then
    * the token count the chunker budgets against. Composes
    * Dedup.minHashPairs → ConnectedComponents.canonicalize →
    * TextAnalysis.{langId, qualityScore, tokenCountBpeish}; the oracle
    * replays every stage in DuckDB (recursive-CTE closure + list
    * algebra).
    */
  def qPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = graft.ops.Dedup
      .minHashPairs(docs, "doc_id", "text", threshold = 0.35)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b")
    val canon = graft.ops.ConnectedComponents
      .canonicalize(docs, "doc_id", pairs, "doc_a", "doc_b")
    docs.join(canon, "doc_id")
      .filter(col("is_canonical"))
      .withColumn("lang_pred", graft.ops.TextAnalysis.langId(col("text")))
      .withColumn("quality", graft.ops.TextAnalysis.qualityScore(col("text")))
      .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
      .select(col("doc_id"), col("quality"),
        graft.ops.TextAnalysis.tokenCountBpeish(col("text"))
          .as("n_tokens_bpeish"))
      .orderBy("doc_id")
  }

  /** Fuzzy self-join: customers whose names differ by at most one edit
    * (ops/FuzzyJoin — exact-recall symmetric-delete blocking + banded
    * levenshtein verify). The oracle brute-forces all pairs; the Spark
    * side never does.
    */
  def qDedupFuzzy(s: SparkSession, dir: String): DataFrame =
    graft.ops.FuzzyJoin
      .pairsWithin1(
        tbl(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name")
      .orderBy("id_a", "id_b")

  /** Brute-force cosine top-10 against the vec_id=0 vector (exact ANN
    * baseline; pure Column math, no UDF).
    */
  def qAnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** LSH-bucket-pruned approximate top-10 (recall measured in
    * SimilaritySpec; not SQL-expressible → rows-only check).
    */
  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Similarity
      .lshTopK(e, "vec_id", "embedding", q, 10,
        numPlanes = 8, probeHamming = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Matryoshka two-stage ANN (ops/Similarity.matryoshkaTopK): coarse
    * rank on the first 16 of 64 dims (implicitly renormalized by the
    * cosine), candidate cut at 50, full-dim rerank to top-10 — the
    * adaptive-retrieval recipe. Both cuts rank on the 4dp-rounded score
    * with the id tiebreak, so the ORACLE replays both stages, slicing
    * the DOUBLE-cast list to 16 elements for the coarse cosine.
    */
  def qAnnMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Similarity.matryoshkaTopK(
      e, "vec_id", "embedding", q, k = 10, coarseDim = 16, candidates = 50)
  }

  /** Root for gate-built persisted fixtures (indexes, streamed state,
    * delta logs): `spark.graft.scratch` — a shared-FS/object-store URI on
    * a real cluster; java.io.tmpdir covers local mode. All IO against it
    * goes through the Hadoop FileSystem of the URI, never java.io.File,
    * so the same gate code runs unchanged against hdfs://... or s3a://...
    */
  def scratchRoot(s: SparkSession): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s.conf.getOption("spark.graft.scratch")
        .getOrElse(sys.props("java.io.tmpdir")))

  /** Fresh unique directory under the scratch root (Hadoop FS mkdirs) —
    * the scratch-URI replacement for Files.createTempDirectory in gate
    * data paths.
    */
  def scratchTempDir(s: SparkSession, prefix: String): String = {
    val p = new org.apache.hadoop.fs.Path(scratchRoot(s),
      s"${prefix}_${java.util.UUID.randomUUID.toString.take(12)}")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(p)
    p.toString
  }

  /** WRITE-ONCE build of a persisted gate fixture under the scratch URI —
    * the same pattern as [[writtenTfTable]]: the path is keyed by the
    * build signature + the source table's file manifest (regenerated
    * input ⇒ fresh key ⇒ fresh build), the build runs only when the
    * completion marker is absent, and an interrupted build (no marker)
    * is retried, never trusted.
    */
  def scratchBuildOnce(
      s: SparkSession, sig: String, srcTable: String, dir: String)(
      build: String => Unit): String = {
    import org.apache.hadoop.fs.Path
    val hconf = s.sparkContext.hadoopConfiguration
    val src = new Path(s"$dir/$srcTable.parquet")
    val manifest = src.getFileSystem(hconf).listStatus(src)
      .sortBy(_.getPath.getName)
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .mkString("|")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sig|$dir|$manifest"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    val p = new Path(scratchRoot(s), s"graft_${sig}_$key")
    val fs = p.getFileSystem(hconf)
    val marker = new Path(p, "_GRAFT_COMPLETE")
    if (!fs.exists(marker)) {
      build(p.toString)
      fs.create(marker, true).close()
    }
    p.toString
  }

  /** One LSH-bucketed parquet layout per testdata dir (written once,
    * probed by every invocation — mirrors a persisted 100 TB index).
    */
  val lshIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Partition-pruned ANN probe over the PERSISTED LSH layout
    * (Similarity.writeLshIndex / lshTopKIndexed): the hamming predicate
    * binds to the bucket partition column, so the scan reads only the
    * probed directories — the true at-scale path, vs ann_lsh's
    * filter-over-full-scan. Pruning is asserted mechanically in OpsSpec.
    */
  def qAnnLshIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val idx = lshIndexCache.computeIfAbsent(dir, { d =>
      scratchBuildOnce(s, "lsh_index_p8", "embeddings", d) { p =>
        graft.ops.Similarity.writeLshIndex(
          tbl(s, d, "embeddings"), "vec_id", "embedding", p,
          numPlanes = 8, dim = 64)
      }
    })
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Similarity
      .lshTopKIndexed(s, idx, q, 10, numPlanes = 8, probeHamming = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** MULTI-PROBE LSH (the r10 stretch ask): probe the 8 buckets most
    * likely to hold neighbors — home + smallest-|q·plane|-margin
    * perturbations ([[graft.ops.Similarity.lshTopKMultiProbe]]) — over
    * the same persisted bucket-partitioned layout. The probe set is
    * driver-computed from the query alone and pushed as an IN on the
    * partition column (scan = exactly 8 directories at any corpus
    * size); the DuckDB twin replays the margin fold, the
    * (score, mask)-ordered perturbation choice, and the cosine top-k
    * bit-for-bit.
    */
  def qAnnLshMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val idx = lshIndexCache.computeIfAbsent(dir, { d =>
      scratchBuildOnce(s, "lsh_index_p8", "embeddings", d) { p =>
        graft.ops.Similarity.writeLshIndex(
          tbl(s, d, "embeddings"), "vec_id", "embedding", p,
          numPlanes = 8, dim = 64)
      }
    })
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Similarity
      .lshTopKMultiProbe(s, idx, q, 10, numPlanes = 8, nProbes = 8)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  val annIncrCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Incremental ANN ingest (ops/Similarity.appendToLshIndex): the index
    * is built once over vec_id >= 20, then the "new batch" (vec_id < 20)
    * is APPENDED — O(batch), nothing rewritten; the probe for vector 0
    * must find the appended self-match through the same partition-pruned
    * scan. Rows-only driver check; append/prune invariants in OpsSpec.
    */
  def qAnnIncremental(s: SparkSession, dir: String): DataFrame = {
    val idx = annIncrCache.computeIfAbsent(dir, { d =>
      scratchBuildOnce(s, "lsh_incr_p8", "embeddings", d) { p =>
        val e0 = tbl(s, d, "embeddings")
        graft.ops.Similarity.writeLshIndex(
          e0.filter(col("vec_id") >= 20), "vec_id", "embedding", p,
          numPlanes = 8, dim = 64)
        graft.ops.Similarity.appendToLshIndex(
          e0.filter(col("vec_id") < 20), "vec_id", "embedding", p,
          numPlanes = 8, dim = 64)
      }
    })
    val q = tbl(s, dir, "embeddings").filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Similarity
      .lshTopKIndexed(s, idx, q, 10, numPlanes = 8, probeHamming = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  val annPostDelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Post-delete ANN probe (index × table-format integration, r15
    * VERDICT ask #6): the LSH layout is built FROM a TxnTable
    * ([[graft.ops.Similarity.writeLshIndexFromTable]]) and bound to the
    * committed version it reflects; a `deleteWhere` on the table then
    * STALES the index, and the checked probe refreshes it — rewriting
    * only the deleted vector's bucket directory (O(changes), source
    * never re-scanned) — before probing. Vector 0 is the deleted row:
    * it is the query's self-match (cosine 1.0, rank 1 in every other
    * ann_* gate), so staleness is observable by construction — a stale
    * probe WOULD return it, the refreshed probe must not. The DuckDB
    * twin replays the probe over the corpus minus the deleted id.
    */
  def qAnnPostDelete(s: SparkSession, dir: String): DataFrame = {
    val root = annPostDelCache.computeIfAbsent(dir, { d =>
      scratchBuildOnce(s, "lsh_txn_del", "embeddings", d) { p =>
        val e = tbl(s, d, "embeddings")
        graft.table.TxnTable.create(s, s"$p/table", e)
        graft.table.TxnTable.enableCdf(s, s"$p/table", Seq("vec_id"))
        graft.ops.Similarity.writeLshIndexFromTable(
          s, s"$p/table", "vec_id", "embedding", s"$p/index",
          numPlanes = 8, dim = 64)
        graft.table.TxnTable.deleteWhere(s, s"$p/table",
          col("vec_id") === 0)
        ()
      }
    })
    val q = tbl(s, dir, "embeddings").filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Similarity.lshTopKIndexedChecked(
      s, s"$root/index", q, 10, numPlanes = 8, probeHamming = 3,
      refreshIfStale = true)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** IVF-pruned approximate top-10 (coarse quantizer + nProbe lists;
    * recall vs brute force measured in OpsSpec → rows-only check).
    */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Similarity
      .ivfTopK(e, "vec_id", "embedding", q, 10,
        nLists = 8, nProbe = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** One persisted IVF layout (centroids live WITH the index) per
    * testdata dir. */
  val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Partition-pruned ANN probe over the PERSISTED IVF layout
    * (Similarity.writeIvfIndex / ivfTopKIndexed): the probe list ids bind
    * to the list_id partition column, so only nProbe/nLists of the
    * corpus directories are read — the IVF sibling of ann_lsh_indexed.
    */
  def qAnnIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndexCache.computeIfAbsent(dir, { d =>
      scratchBuildOnce(s, "ivf_index_l8", "embeddings", d) { p =>
        graft.ops.Similarity.writeIvfIndex(
          tbl(s, d, "embeddings"), "vec_id", "embedding", p,
          nLists = 8, dim = 64)
      }
    })
    val q = tbl(s, dir, "embeddings").filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Similarity
      .ivfTopKIndexed(s, idx, q, 10, nProbe = 3)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Distributed k-means (full Lloyd loop — ops/Clustering): k=8, two
    * iterations, 64-dim embeddings. Deterministic end to end (hyperplane
    * init, fixed-point centroid means, first-seen argmax), so the DuckDB
    * oracle replays BOTH Lloyd rounds and hash-matches cluster sizes and
    * exact Float32 centroid components.
    */
  def qKmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (assigned, centroids) = graft.ops.Clustering.kMeans(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      k = 8, maxIters = 2, tol = 0.0, dim = 64)
    val counts = assigned.groupBy("list_id").agg(count(lit(1)).as("n"))
    val cents = centroids.toSeq
      .map { case (id, c) => (id, c(0).toDouble, c(1).toDouble) }
      .toDF("list_id", "c0", "c1")
    counts.join(cents, Seq("list_id"))
      .select(col("list_id").cast("int").as("cluster"),
        col("n"), col("c0"), col("c1"))
      .orderBy("cluster")
  }

  /** Inverted index build — the retrieval artifact downstream of the TF
    * pipeline: per term, document frequency + a CAPPED sorted posting
    * list. The cap is applied BEFORE any aggregation buffer exists:
    * `row_number() OVER (PARTITION BY w ORDER BY doc_id) <= 10` runs as
    * WindowGroupLimit (per-partition bounded heaps below the exchange —
    * the same two-phase shape as q_weighted_sample), so a stopword's
    * postings are at most 10 rows per task and 10 rows per word after the
    * shuffle — never the full corpus in one collect_list buffer. df is a
    * separate count aggregate over the uncapped pairs (map-side partial
    * combine, O(1) state per word), joined back on the word key.
    * PlanSpec asserts the WindowGroupLimit shape stays in the plan.
    */
  def qInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val pairs = tbl(s, dir, "documents")
      .select(col("doc_id"), explode(expr(tokensSql)).as("w"))
      .distinct()
    val capped = pairs
      .withColumn("rn",
        row_number().over(Window.partitionBy("w").orderBy("doc_id")))
      .filter(col("rn") <= 10)
      .groupBy("w")
      .agg(concat_ws(",", sort_array(collect_list(col("doc_id"))))
        .as("postings"))
    val dfreq = pairs.groupBy("w").agg(count(lit(1)).as("df"))
    dfreq.join(capped, Seq("w"))
      .select(col("w"), col("df"), col("postings"))
      .orderBy("w")
  }

  /** Weighted per-source sampling (ops/Sampling — Efraimidis–Spirakis
    * A-ES): 5 docs per source, inclusion proportional to n_chars — the
    * corpus-mixing "sample proportional to token budget within each
    * domain" step, deterministic via hash-uniforms so the oracle replays
    * the exact sample.
    */
  def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling
      .weightedSamplePerGroup(
        tbl(s, dir, "documents"), "source", "doc_id", "n_chars", 5)
      .select(col("source"), col("doc_id"),
        col("sample_key"), col("sample_rank"))
      .orderBy("source", "sample_rank")

  /** Deterministic train/val/test split (ops/Sampling.splitAssign):
    * membership is a pure function of (seed, doc_id) — held-out sets
    * never migrate between runs or engines. 90/5/5 at seed 42; the
    * oracle recomputes the same md5-uniform thresholding.
    */
  def qSplitAssign(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling
      .splitAssign(tbl(s, dir, "documents"), "doc_id", seed = 42L,
        trainFrac = 0.9, valFrac = 0.05)
      .select(col("doc_id"), col("split_u"), col("split"))
      .orderBy("doc_id")

  /** LEAKAGE-SAFE train/val/test split: near-duplicates must not
    * straddle the train/eval boundary (a near-copy of a training doc in
    * the test set is contamination the doc-id split can't see). Pairs →
    * connected components (the dedup_clusters construction, whose LSH
    * pair set provably equals the brute-force trigram-Jaccard truth on
    * this corpus) → split assigned by hashing the COMPONENT id, so every
    * member of a component lands in the same split. The oracle composes
    * the recursive-CTE closure with the md5-fold split hash on the
    * component.
    */
  def qLeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val pairs = graft.ops.Dedup
      .minHashPairs(docs, "doc_id", "text", threshold = 0.35)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b")
    val comp = graft.ops.ConnectedComponents
      .canonicalize(docs, "doc_id", pairs, "doc_a", "doc_b")
    graft.ops.Sampling
      .splitAssign(comp.select(col("doc_id"), col("component")),
        "component", seed = 42L, trainFrac = 0.9, valFrac = 0.05)
      .select(col("doc_id"), col("component"), col("split"))
      .orderBy("doc_id")
  }

  /** KMV vocabulary-overlap sketches between language slices
    * (ops/Sketch): one corpus scan builds a k=128 k-minimum-values
    * sketch of each lang's distinct token set; every pairwise
    * Jaccard/union/intersection estimate then runs on #langs × 128 rows.
    * Fully deterministic (FNV-1a + unsigned-order top-k), so the oracle
    * replays the sketches AND the estimates exactly — the estimator is
    * graded on reproducibility here; its accuracy bound is spec'd in
    * OpsSpec against exact distinct counts.
    */
  def qKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    // fanout (r16): tokenize+explode+FNV-per-token off a single-row-
    // group scan — parallelize the sketch build
    val toks = fanout(tbl(s, dir, "documents")
        .select(col("lang"), col("text")))
      .select(col("lang"), explode(expr(tokensSql)).as("w"))
    graft.ops.Sketch.kmvOverlap(toks, "lang", "w", k = 128)
      .orderBy("grp_a", "grp_b")
  }

  /** STREAMED KMV sketch maintenance: the per-lang vocabulary sketches
    * of [[qKmvOverlap]] kept current by a real streaming query — each
    * micro-batch's sketch merges into a TxnTable-stored state
    * (Sketch.mergeSketches; KMV merge is associative/commutative/
    * idempotent, so arrival order cannot change the result) behind the
    * file-backed committed-batch high-water mark (exactly-once under
    * replay). Per batch the work is O(batch tokens) + O(groups × k);
    * the corpus is never rescanned. The final state's distinct
    * estimates must equal the one-shot batch sketch — the oracle
    * replays that directly.
    */
  /** NEAR-DUP DEDUP AT INGEST — the streaming composition the batch
    * dedup battery lacked: documents arrive through a file stream
    * (one micro-batch per file) and flow through the SAME
    * shingle→MinHash kernel as dedup_minhash
    * ([[graft.ops.Dedup.withMinHashSignature]], k=8), band into 4
    * two-row buckets keyed by the RAW signature slices (no murmur
    * re-hash — so the oracle replays every bit in SQL via the
    * Duck.mix64/fnv twins), and fold per bucket with a streaming
    * update-mode min/count — ORDER-INDEPENDENT by construction, so
    * the final upsert-log state equals the batch computation no matter
    * how files split into micro-batches. Emission: per band, bucket
    * count, doc count, multi-doc (candidate-duplicate) bucket count
    * and a keeper-id checksum — all BIGINT. At 100 TB the same query
    * runs unbounded with a watermark on ingest time; the gate's
    * AvailableNow drain bounds state by construction.
    */
  def qDocsStreamNeardup(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "documents").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(docsStreamDir(dir).toString)
    val banded = graft.ops.Dedup
      .withMinHashSignature(stream, "doc_id", "text", 3, 8)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), b -> struct(" +
          "element_at(sig, 2*b+1) AS s1, element_at(sig, 2*b+2) AS s2))"))
        .as(Seq("band", "bk")))
      .select(col("doc_id"), col("band").cast("long").as("band"),
        col("bk.s1").as("s1"), col("bk.s2").as("s2"))
    val buckets = banded.groupBy("band", "s1", "s2")
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
    val log = streamToDeltaLog(s, buckets, "update")
    readDeltaLogUpsert(s, log, buckets.schema, Seq("band", "s1", "s2"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("n_docs")).cast("long").as("n_docs"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_multi_buckets"),
        sum(col("keeper") % 1000003L).cast("long").as("keeper_checksum"))
      .orderBy("band")
  }

  def qDocsStreamKmv(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "documents").schema
    val work = scratchTempDir(s, "graft_kmv_stream")
    val tblRoot = s"$work/sketch_tbl"
    val sink = graft.streaming.StreamingEmbed.idempotentSink(
      (batch: DataFrame, _: Long) => {
        val toks = batch.select(col("lang"), explode(expr(tokensSql)).as("w"))
        val newSk = graft.ops.Sketch.kmvSketch(toks, "lang", "w", 128)
        if (graft.table.TxnTable.latestVersion(s, tblRoot).isEmpty) {
          graft.table.TxnTable.create(s, tblRoot, newSk)
        } else {
          val cur = graft.table.TxnTable.snapshot(s, tblRoot)
          graft.table.TxnTable.overwrite(s, tblRoot,
            graft.ops.Sketch.mergeSketches(cur, newSk, 128))
        }
        ()
      },
      graft.streaming.StreamingEmbed.hadoopHighWaterMark(
        s.sparkContext.hadoopConfiguration, s"$work/hwm"))
    val stream = s.readStream.schema(schema)
      .parquet(docsStreamDir(dir).toString)
    runStream(s) {
      stream.writeStream
        .outputMode("append")
        .foreachBatch(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    graft.ops.Sketch
      .distinctEstOf(graft.table.TxnTable.snapshot(s, tblRoot), 128)
      .orderBy("grp")
  }

  /** FUZZY benchmark decontamination: q_contamination's 8-gram overlap
    * misses paraphrased/lightly-edited leaks — this pass finds
    * NEAR-duplicate (trigram Jaccard ≥ 0.5) pairs straddling the
    * held-out slice (doc_id % 50 = 0) and the train slice, via the same
    * banded MinHash LSH + exact-verify plan as dedup_clusters (never
    * all-pairs). Output: each contaminated (bench, train) pair with its
    * exact Jaccard; the oracle brute-forces the cross-slice pairs.
    */
  def qContaminationFuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.ops.Dedup
      .minHashPairs(docs, "doc_id", "text", threshold = 0.35)
      .filter(col("jaccard") >= 0.5)
      .select(
        when(col("doc_a") % 50 === 0, col("doc_a"))
          .otherwise(col("doc_b")).as("bench_id"),
        when(col("doc_a") % 50 === 0, col("doc_b"))
          .otherwise(col("doc_a")).as("train_id"),
        round(col("jaccard"), 6).as("jaccard"))
      .filter(col("bench_id") % 50 === 0 && !(col("train_id") % 50 === 0))
      .orderBy("bench_id", "train_id")
  }

  /** CURRICULUM data mixing: bucket the corpus into length deciles and
    * keep each doc with probability decile/10 (longer docs sampled more
    * — the ramped-difficulty curriculum recipe; any per-bucket rate
    * schedule slots in). Scale shape: decile BOUNDARIES come from one
    * exact-percentile aggregate broadcast back — assignment is a
    * comparison against 9 broadcast values, NOT a global ntile window
    * (a SinglePartition rank over 100 TB). Keeps are the deterministic
    * splitAssign hash-uniform, so the oracle replays the whole
    * schedule: quantile_cont boundaries, bucket-by-comparison, md5-fold
    * keep decision.
    */
  def qCurriculumMix(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val bounds = docs.agg(expr(
      "percentile(n_chars, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
      .as("bs"))
    val bucketed = docs.crossJoin(broadcast(bounds))
      .withColumn("decile",
        (lit(1) + expr("size(filter(bs, b -> n_chars > b))")).cast("int"))
    graft.ops.Sampling
      .splitAssign(bucketed, "doc_id", seed = 7L,
        trainFrac = 0.5, valFrac = 0.25)
      .withColumn("keep", col("split_u") < col("decile") / lit(10.0))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1).otherwise(0)).as("n_kept"))
      .orderBy("decile")
  }

  /** Temperature-scaled source mixing (ops/Sampling.temperatureMix,
    * alpha = 0.3 — the standard "upsample the tail domain" setting):
    * one corpus scan → #sources rows with raw share, temperature share,
    * and sampler boost. The oracle replays the power-law algebra.
    */
  def qDomainMix(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling
      .temperatureMix(tbl(s, dir, "documents"), "source", alpha = 0.3)
      .orderBy("source")

  /** Deterministic epoch shuffle + shard assignment
    * (ops/Sampling.epochShard): `mix64(doc_id XOR seed)` hashes each doc
    * to one of 8 shards, position = hash rank within the shard — a
    * global permutation without a global sort (one uniform shard-keyed
    * shuffle + per-shard sort). The oracle replays the splitmix64
    * finalizer in HUGEINT arithmetic.
    */
  def qEpochShuffle(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling
      .epochShard(tbl(s, dir, "documents"), "doc_id", seed = 7L,
        nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")

  /** Semantic dedup with retention (ops/Dedup.semanticDedup — the
    * SemDeDup recipe): embedding-LSH near-dup pairs → connected
    * components → keep the minimum id per component. Every third vector
    * is planted as an exact duplicate (id + 100000), the same corpus
    * construction the neardup_embedding gate proves finds exactly the
    * planted pairs and nothing else at threshold 0.95 — so components
    * and keepers are fully determined and the oracle states them.
    */
  def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(
      e.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    graft.ops.Dedup
      .semanticDedup(planted, "vec_id", "embedding",
        threshold = 0.95, dim = 64)
      .orderBy("vec_id")
  }

  /** Gopher-rule quality filter (ops/TextAnalysis.gopherRules): per-rule
    * audit flags + statistics + the conjunction, one narrow codegen'd
    * projection. The oracle replays the flat integer algebra.
    */
  /** BLOCKLIST FILTER (the C4-style bad-words pass): documents whose
    * text contains any blocklisted term at a WORD BOUNDARY are
    * dropped; per-source keep counts and the keep rate (floor-form
    * 6dp — a count ratio, the tie-determinism contract). One codegen
    * regex per row, one source-sized rollup; at 100 TB this is a
    * map-only scan feeding a tiny aggregate.
    */
  def qBlocklistFilter(s: SparkSession, dir: String): DataFrame = {
    val pat = "\\b(customer|vector|stream)\\b"
    tbl(s, dir, "documents")
      .select(col("source"),
        when(col("text").rlike(pat), 1L).otherwise(0L).as("flagged"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("flagged")).as("n_flagged"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        rndDet((col("n_docs") - col("n_flagged")).cast("double")
          / col("n_docs").cast("double"), 6).as("keep_rate"))
      .orderBy("source")
  }

  def qGopherRules(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        graft.ops.TextAnalysis.gopherRules(col("text")).as("g"))
      .select(col("doc_id"), col("g.*"))
      .orderBy("doc_id")

  /** Hard-negative mining for retrieval training (the contrastive-pair
    * step downstream of embedding: per query, the top-k most similar
    * corpus vectors with a DIFFERENT label — near-misses the loss
    * learns the most from). Broadcast probe set × one corpus scan,
    * WindowGroupLimit top-k on the rounded cosine + id (the repo-wide
    * deterministic-ranking contract); at 100 TB the probe side stays
    * the broadcast-sized set by construction.
    */
  def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSimilarity.register(s)
    val e = tbl(s, dir, "embeddings")
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("label").as("own_label"),
        col("embedding").as("qv"))
    val corpus = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("nbr_id"), col("label").as("nbr_label"),
        col("embedding").as("nv"))
    val scored = corpus.crossJoin(broadcast(probes))
      .filter(col("nbr_label") =!= col("own_label"))
      .select(col("probe_id"), col("nbr_id"),
        round(graft.functions.CosineSimilarity
          .cosine(col("nv"), col("qv")), 4).as("cos4"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos4").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("probe_id", "rnk", "nbr_id", "cos4")
      .orderBy("probe_id", "rnk")
  }

  /** C4-style duplicate-span removal (ops/Dedup.spanDedup): every
    * 3-word span keeps only its globally first occurrence, documents are
    * reassembled from the survivors. Two keyed shuffles (span text, then
    * doc id); the first-occurrence flag is a streaming row_number. The
    * oracle replays tokenize → span cut → window rank → ordered
    * string_agg in pure SQL.
    */
  def qSpanDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.spanDedup(
      tbl(s, dir, "documents"), "doc_id", "text", spanWords = 3)
      .orderBy("doc_id")

  /** Stopword-ratio language ID (SQL-expressible heuristic). */
  def qLangId(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        graft.ops.TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Composite quality score. */
  def qQualityScore(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Tokenizer + fingerprint profile (engine kernels → rows-only check). */
  def qTextProfile(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        graft.ops.TextAnalysis.tokenCountBpeish(col("text"))
          .as("n_tokens_bpeish"))
      .orderBy("doc_id")

  /** Winnowing fingerprint surface (Schleimer et al. rolling-hash
    * kernel). Oracle-checked: the FNV-1a fold is replicated in DuckDB
    * with HUGEINT mod-2^64 arithmetic (signed xor is bit-identical to
    * Java's), the per-window minima in list algebra — every distinct-min
    * count hash-matches.
    */
  def qFingerprintStats(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        size(graft.ops.TextAnalysis.fingerprintUdf(col("text")))
          .as("n_fingerprint"))
      .orderBy("doc_id")

  /** WINNOWING PAIR DETECTION (the MOSS use of the fingerprint kernel
    * — fingerprint_stats counts signatures, this one finds the COPIES):
    * documents sharing winnowed k-gram fingerprints, ranked by shared
    * count. The join is FINGERPRINT-KEYED — content addressing, the
    * only shape that scales (never doc×doc) — and fingerprints shared
    * by more than 16 documents are dropped before pairing (boilerplate
    * hashes would otherwise generate quadratic pairs per hash; the LSH
    * bucket-cap discipline, mirrored in the oracle).
    */
  def qWinnowingPairs(s: SparkSession, dir: String): DataFrame = {
    val fp = tbl(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.ops.TextAnalysis.fingerprintUdf(col("text")))
          .as("fp"))
    val keep = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 16))
      .select(col("fp"))
    val f2 = fp.join(keep, "fp")
    f2.as("a").join(f2.as("b"), Seq("fp"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .orderBy(col("shared").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** REAL PNG per document — the fixture formulas live here AND in the
    * DuckDB oracles, so the decode kernels are checked against ground
    * truth known by construction: gradient red channel (pixel traversal
    * matters), constant green/blue, dimensions a function of doc_id.
    */
  val synthPngUdf = udf { id: Long =>
    val w = 8 + (id % 24).toInt
    val h = 8 + ((id * 7) % 24).toInt
    graft.ops.Multimodal.encodePng(w, h, (x, y) =>
      (((x.toLong * y + id) % 256).toInt,
        ((id * 3) % 256).toInt, ((id * 7) % 256).toInt))
  }

  /** Real JPEG bytes (JVM-shipped writer), same dimension formula as the
    * PNG fixture. Lossy: the gate checks header metadata + decode
    * success for these rows, never decoded sums.
    */
  val synthJpegUdf = udf { id: Long =>
    val w = 8 + (id % 24).toInt
    val h = 8 + ((id * 7) % 24).toInt
    graft.ops.Multimodal.encodeJpeg(w, h, (x, y) =>
      (((x.toLong * y + id) % 256).toInt,
        ((id * 3) % 256).toInt, ((id * 7) % 256).toInt))
  }

  /** `GFRM` container of real solid-color PNG frames (2..6 per doc). */
  val synthFramesUdf = udf { id: Long =>
    val nf = 2 + (id % 5).toInt
    graft.ops.Multimodal.encodeFrameContainer((0 until nf).map { k =>
      graft.ops.Multimodal.encodePng(8, 8, (_, _) =>
        (((id + 37L * k) % 256).toInt, ((id * 5 + k) % 256).toInt,
          ((k * 11) % 256).toInt))
    })
  }

  /** Real mono PCM16LE WAV: samples from an integer lattice formula. */
  val synthWavUdf = udf { id: Long =>
    val n = 200 + (id % 8).toInt * 100
    val rate = if (id % 2 == 0) 16000 else 44100
    graft.ops.Multimodal.encodeWav(rate, Array.tabulate(n)(i =>
      (((id * 131 + i * 29) % 65536) - 32768).toShort))
  }

  /** Multimodal images, ORACLE-CHECKED end to end: synthesize real media
    * per doc — PNG for most ids, JPEG (every 5th id, via the JVM-shipped
    * writer) so the lake's dominant format exercises the same decode
    * path — then decode it all back. Hash-checked values: header
    * metadata (format/width/height — for JPEG from the SOF marker walk),
    * decode success for EVERY row (`decoded` proves the ImageIO JPEG
    * read ran), and for the lossless rows the integer channel sum over
    * the decoded pixels plus the sum AFTER a real nearest-neighbor
    * resize to 16×16 (decode → sample on the integer lattice → PNG
    * re-encode → decode). JPEG sums are NULL by construction: the codec
    * is lossy, so decoded values are codec-dependent — no DuckDB oracle
    * can replay them (the pixel round-trip is spec-checked with a
    * tolerance in OpsSpec instead).
    */
  def qMultimodalImages(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.ops.Multimodal
    // fixture-synthesis cost is bounded like the audio gate's: decode
    // correctness needs a fixed id range, not SF-scaling media volume
    val isJpegRow = col("doc_id") % 5 === 0
    val media = tbl(s, dir, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"),
        when(isJpegRow, synthJpegUdf(col("doc_id")))
          .otherwise(synthPngUdf(col("doc_id"))).as("media"))
    val base = mm.imageStats(media, "media")
      .select(col("doc_id"),
        col("istats.format").as("format"),
        col("istats.width").as("width"),
        col("istats.height").as("height"),
        col("istats.valid").as("decoded"),
        when(isJpegRow, lit(null).cast("long"))
          .otherwise(col("istats.sum_r")).as("sum_r"))
    val resized = mm.imageStats(mm.resizeMedia(media, "media", 16, 16), "media")
      .select(col("doc_id"),
        when(isJpegRow, lit(null).cast("long"))
          .otherwise(col("istats.sum_r")).as("rsum_r"))
    base.join(resized, Seq("doc_id")).orderBy("doc_id")
  }

  /** Multimodal frame sampling, ORACLE-CHECKED: real PNG frames in the
    * GFRM container, evenly-spaced sampling (j*count/n lattice), per-frame
    * grid-pooled features from the DECODED pixels. f0 = cell(0,0) red
    * mean / 255 — for a solid frame that is exactly `r/255` as Float32,
    * which the oracle reproduces with the same cast chain.
    */
  def qMultimodalFrames(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal
      .sampleVideoFrames(
        tbl(s, dir, "documents")
          .filter(col("doc_id") < 500) // bounded fixtures, like the audio gate
          .select(col("doc_id"), synthFramesUdf(col("doc_id")).as("media")),
        "doc_id", "media", framesPerVideo = 4)
      .select(col("media_id"), col("frame_number"),
        col("frame_features")(0).cast("double").as("f0"))
      .orderBy("media_id", "frame_number")

  /** Multimodal audio, ORACLE-CHECKED: real WAV (RIFF header + PCM16LE),
    * decoded by the chunk-walker, windowed RMS over the decoded samples.
    * Window membership proves the data-chunk length decode; RMS values
    * prove the sample decode — `s/32768` and its square are EXACT binary
    * fractions, the window sum stays exact (≤ 37 bits), so the final
    * division + sqrt are single correctly-rounded IEEE ops both engines
    * agree on bit-for-bit; no rounding needed.
    */
  def qMultimodalAudio(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal
      .audioEnergy(
        tbl(s, dir, "documents")
          .filter(col("doc_id") < 100)
          .select(col("doc_id"), synthWavUdf(col("doc_id")).as("media")),
        "doc_id", "media", windowSize = 128)
      .select(col("media_id"), col("window_no"), col("rms"))
      .orderBy("media_id", "window_no")

}
