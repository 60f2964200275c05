package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.DocRoutePlan
import graft.ops._
import graft.router.Router

/** Driver contract (SURVEY §7 + builder prompt): one entry per implemented
  * operator, each paired (where SQL-expressible) with DuckDB oracle SQL in
  * `oracleSql`. Query names map to SURVEY §2 operator ids in comments.
  *
  * Hash-compare hygiene rules applied throughout (both sides identically):
  *   - every aggregate/computed column aliased to the same name;
  *   - double aggregates rounded (2–4 dp) so summation-order ulps can't
  *     flip the hash; ints/strings preferred in outputs;
  *   - timestamps emitted as epoch seconds (floor), never formatted;
  *   - every result deterministically ordered.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(spark, dir, name)

  /** Fixed BPE merge table for the encode queries — FIXED (not learned)
    * so the DuckDB oracle can replay the exact same table; chosen so the
    * merges CHAIN (st→str, ll→all, jo→joi→join), exercising the
    * merged-piece-as-left-side path on real corpus words ("the" → [the],
    * "stream" → [str, e, am], "small" → [s, m, all], "join" → [join]).
    * The learned-table path (`bpeMerges` output into `bpeEncode`) is
    * spec-pinned instead (BpeEncodeSpec): its table is the product of an
    * iterative driver loop no single SQL statement can replay.
    */
  private val BpeFixedMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("s", "t"), ("e", "r"), ("st", "r"), ("a", "m"),
    ("l", "l"), ("a", "ll"), ("j", "o"), ("jo", "i"), ("joi", "n"))

  // Build-once duplicate-cluster artifact shared by the three cluster
  // consumers (dedup_clusters / dedup_cluster_sizes / dedup_keep_best).
  // At 100 TB the (id, rep) assignment is a parquet table written by ONE
  // build job (Dedup.clusterBuild) and read by every report — nobody runs
  // MinHash + connected components three times. In-session this memo IS
  // that artifact: built and persisted once per (session, sf dir),
  // serialized storage (compact longs), and deliberately NOT
  // Cleanup-registered so the harness's per-query drain can't evict it
  // between independent consumer queries. Lineage stays intact, so an
  // evicted block recomputes instead of failing.
  private val clusterMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
  private def clusterArtifact(s: SparkSession, dir: String): DataFrame =
    clusterMemo.getOrElseUpdate((System.identityHashCode(s), dir),
      Dedup.clusterBuild(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  // Build-once trained-classifier artifact shared by the two classifier
  // consumers (docs_classifier_train / docs_classifier_apply). At 100 TB
  // the (dim+1)-row weight table is written by ONE training job
  // (TextAnalysis.classifierTrainVector) and read back as literals by
  // every scoring pass — the memo is that artifact in-session. The
  // trained state is a plain driver-side array (O(dim)), so unlike
  // clusterMemo there is nothing to persist or drain. The teacher label
  // (classifierTarget) is the stopword-density rule at 15% — a
  // content-derived signal the hashed bag-of-words map can actually
  // learn (the corpus metadata columns are token-independent by
  // construction, so lang/source labels would train a coin flip).
  private def classifierTarget = col("stopword_ratio") >= 0.15
  private def classifierLabeled(s: SparkSession, dir: String): DataFrame =
    // non-null text only: the oracle's unnest drops tokenless docs, so the
    // censuses must count the same population (no-op on the driver corpus)
    TextAnalysis.qualityFeatures(
      t(s, dir, "documents").where(col("text").isNotNull), "text")
  private val classifierMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), (Array[Double], Double)]
  private def classifierArtifact(s: SparkSession, dir: String): (Array[Double], Double) =
    classifierMemo.getOrElseUpdate((System.identityHashCode(s), dir),
      TextAnalysis.classifierTrainVector(classifierLabeled(s, dir), "text",
        classifierTarget, dim = 32, iters = 64, eta = 1.0 / 64))

  // Sampled-shard sibling of classifierArtifact (round-12 verdict task 5):
  // the same 64-round LMS train on the deterministic doc_id % 4 == 0
  // quarter shard — iters/4 corpus-scan-equivalents per retrain instead of
  // iters (the 100 TB retrain contract classifierTrainSampled documents;
  // DESIGN §16). The id-modulus shard is the lshQualityCensus quarantine
  // pattern: content-independent (ids are assignment-order opaque here),
  // so the shard is exchangeable with the corpus, and exactly replayable
  // by DuckDB's integer arithmetic. Weights apply CORPUS-WIDE through the
  // same literal seam every classifier consumer uses.
  // ONE source for the shard on both engines (the enMarkers rule:
  // independently hard-coding the predicate here and in the oracle SQL
  // would silently desynchronize the train populations on the day either
  // side changes) — the oracle string below renders from this constant
  private val sampledShardMod = 4
  private val sampledShard = col("doc_id") % sampledShardMod === 0
  private[graft] def sampledShardSql = s"id % $sampledShardMod = 0"
  private val sampledClassifierMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), (Array[Double], Double)]
  private def sampledClassifierArtifact(s: SparkSession, dir: String): (Array[Double], Double) =
    sampledClassifierMemo.getOrElseUpdate((System.identityHashCode(s), dir),
      TextAnalysis.classifierTrainSampled(classifierLabeled(s, dir), "text",
        classifierTarget, sampledShard, dim = 32, iters = 64, eta = 1.0 / 64))

  // One-vs-rest distillation artifact (docs_classifier_multiclass): the
  // teacher is the 3-BAND stopword-density rule (lo < 0.12 ≤ mid < 0.17 ≤
  // hi over the binary teacher's own rounded swr) — content-derived AND
  // balanced at every SF (langId was tried first and is 97% one class on
  // this corpus, a degenerate demonstration; the metadata lang column is
  // token-independent by construction and would train a coin flip).
  // Alphabetical class order is the argmax tie-break priority. The mid
  // band is an interval — NOT linearly separable one-vs-rest — which is
  // exactly what makes the argmax composition the interesting part: the
  // boundary probes approach their linear ceilings while mid is carved
  // only where both neighbors go negative (measured 0.56 accuracy at 24
  // rounds vs 0.59 at 48 — a structural ceiling, not under-training, so
  // the cheaper round count is the right default).
  private val multiclassClasses = Seq("hi", "lo", "mid")
  private def densityBand = when(col("stopword_ratio") < 0.12, "lo")
    .when(col("stopword_ratio") < 0.17, "mid").otherwise("hi")
  private val multiclassMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, String), Seq[(String, Array[Double], Double)]]
  private def multiclassArtifact(s: SparkSession, dir: String): Seq[(String, Array[Double], Double)] =
    multiclassMemo.getOrElseUpdate((System.identityHashCode(s), dir),
      TextAnalysis.classifierTrainOneVsRest(classifierLabeled(s, dir), "text",
        densityBand, multiclassClasses, dim = 32, iters = 24, eta = 1.0 / 64))

  // Build-once unigram-LM tokenizer artifact (round 13 — the BPE
  // sibling): hard-EM trained inventory with fixed-point log2 scores,
  // shared by the train-surface, encode and bits queries. ONE shared
  // constant set feeds the trainer AND the oracle generator (the
  // enMarkers rule). Round 14: the trainer seeds seedK = 2·vocabK
  // multi-char pieces and PRUNES to vocabK per round, and the corpus is
  // AUGMENTED with a deterministic >UnigramMaxLen token on every
  // UnigramPlantMod-th doc (the text_pii_redact augmentation rule: the
  // raw corpus' max word is 8 chars at every SF, so the pre-chunk path
  // would be exercised only on its vacuous negative branch) — the
  // oracle replays the same plant from the same constants.
  private val UnigramVocabK = 200
  private val UnigramSeedK = 2 * UnigramVocabK
  private val UnigramPieceLen = 4
  private val UnigramRounds = 3
  private val UnigramPlantMod = 5
  private val UnigramPlantToken = "longpathtokenexample"
  private def unigramCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % UnigramPlantMod === 0,
        concat(col("text"), lit(" " + UnigramPlantToken),
          col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"))
  private[graft] def unigramAugSql: String =
    s"CASE WHEN doc_id % $UnigramPlantMod = 0 THEN text || ' $UnigramPlantToken' " +
      "|| CAST(doc_id AS VARCHAR) ELSE text END"
  private val unigramMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, String), TextAnalysis.UnigramModel]
  private def unigramArtifact(s: SparkSession, dir: String): TextAnalysis.UnigramModel =
    unigramMemo.getOrElseUpdate((System.identityHashCode(s), dir),
      TextAnalysis.unigramTrain(unigramCorpus(s, dir), "text",
        vocabK = UnigramVocabK, pieceLen = UnigramPieceLen,
        rounds = UnigramRounds, seedK = UnigramSeedK))

  /** Bench seam: the build-once artifact memos, exposed so the bench can
    * force (and time) each trainer BEFORE the per-query sweep instead of
    * letting the training cost land inside whichever consumer query the
    * sweep happens to time first (BENCH_r11: `docs_classifier_apply`
    * max 99.15 s vs med 8.48 s was exactly the memoized 64-round train).
    * A 100 TB deployment trains once and serves the artifact table —
    * train and apply are separate bench lines because they are separate
    * jobs there. Keys are the bench-payload line names.
    */
  val trainerWarmers: Map[String, (SparkSession, String) => Unit] = Map(
    "cluster_build" -> ((s, dir) => { clusterArtifact(s, dir).count(); () }),
    "classifier_train" -> ((s, dir) => { classifierArtifact(s, dir); () }),
    "classifier_train_sampled" -> ((s, dir) => { sampledClassifierArtifact(s, dir); () }),
    "multiclass_train" -> ((s, dir) => { multiclassArtifact(s, dir); () }),
    "unigram_train" -> ((s, dir) => { unigramArtifact(s, dir); () }))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(spark, "/root/testdata/sf0.001")
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- router core (reference parity: F1 F2 R1 R2 R3 R4 R5 R6 P1) ----
    "route_first_match" -> ((s, dir) => {
      val df = t(s, dir, "documents").withColumn("value", col("text"))
      Router.routeKeep(df, DocRoutePlan.resolved)
        .select(col("doc_id"), coalesce(col("topic"), lit("__dropped")).as("topic"))
        .orderBy(col("doc_id"))
    }),
    "route_topic_counts" -> ((s, dir) => {
      val df = t(s, dir, "documents").withColumn("value", col("text"))
      Router.routeKeep(df, DocRoutePlan.resolved)
        .select(coalesce(col("topic"), lit("__dropped")).as("topic"))
        .groupBy(col("topic")).agg(count(lit(1)).as("n"))
        .orderBy(col("topic"))
    }),
    "route_projection" -> ((s, dir) => {
      val df = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("key"), col("text").as("value"))
      Router.route(df, DocRoutePlan.resolved)
        .orderBy(col("topic"), col("key"))
    }),

    // ---- dedup (SURVEY §2.3 extension surface) ----
    "dedup_exact_groups" -> ((s, dir) =>
      Dedup.exactDupGroups(
          t(s, dir, "documents").withColumn("prefix80", substring(col("text"), 1, 80)),
          "prefix80", "doc_id")
        .orderBy(col("prefix80"))),
    "dedup_exact_keep" -> ((s, dir) =>
      Dedup.exactDedup(
          t(s, dir, "documents").withColumn("prefix80", substring(col("text"), 1, 80)),
          "prefix80", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.5)
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_containment" -> ((s, dir) =>
      // ASYMMETRIC containment C(a→b) = |Sₐ∩S_b|/|Sₐ| ≥ 0.6 — the
      // quote-inclusion detector Jaccard structurally misses (a short doc
      // embedded in a long one has J ≈ 0 but C = 1); candidates from a
      // df-capped shared-gram join (cap 100 ≈ 4× the hottest legitimate
      // gram at sf0.1), never an all-pairs product — see
      // Dedup.containmentPairs for the cap's documented miss direction
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text", 3,
          threshold = 0.6, maxDf = 100)
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_exact_cross" -> ((s, dir) => {
      // cross-corpus EXACT dedup through the new fingerprint-artifact
      // seam: fresh crawl docs (odd ids) whose 80-char prefix is
      // verbatim-present in the training set (even ids) — one anti/semi
      // join on the 16-byte fingerprint keys; this query wires the flag
      // form (the decontamination report). The oracle compares raw
      // prefix strings, so a fingerprint collision fails loudly.
      val d = t(s, dir, "documents")
        .withColumn("prefix80", substring(col("text"), 1, 80))
      val idx = Dedup.exactBuild(d.filter(col("doc_id") % 2 === 0), "prefix80")
      Dedup.exactFlagsWith(d.filter(col("doc_id") % 2 === 1), idx,
          "prefix80", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "dedup_containment_cross" -> ((s, dir) => {
      // cross-corpus containment through the Build/With seam: flag fresh
      // crawl docs (odd ids) ≥60% contained in some training doc (even
      // ids), best reference per new doc; the df cap counts the
      // REFERENCE side only (batch-invariant — the crossCorpusNearDups
      // rule), replayed by the oracle
      val d = t(s, dir, "documents")
      Dedup.crossCorpusContainment(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", 3, threshold = 0.6, maxDf = 100)
        .orderBy(col("id_new"))
    }),
    "dedup_minhash_lsh" -> ((s, dir) => // oracle-checked: recall is exact at test SFs
      Dedup.minHashNearDups(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_lsh_quality" -> ((s, dir) => {
      // the banding-parameter audit: exact-Jaccard decile census of the
      // shared-shingle pair universe with the (16×4) banding's detection
      // flag — recall reads off the high bands, detected mass below the
      // threshold is the precision cost (Dedup.lshQualityCensus; bands
      // by INTEGER (inter·10) div union, immune to engine rounding).
      // The raw corpus only populates the curve's ENDS (J≈0 incidental
      // overlap, J≥0.9 planted near-dups), so every 5th doc gets a
      // 2/3-prefix twin PLANTED (the docs_boilerplate augmentation rule:
      // the probabilistic mid-curve region is exactly what this audit
      // exists to measure, and an S-curve sampled only at its asymptotes
      // is vacuous) — integer char arithmetic, replayed by the oracle
      val d = t(s, dir, "documents")
      val twins = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          expr("substr(text, 1, CAST(length(text) * 2 DIV 3 AS INT))").as("text"))
      Dedup.lshQualityCensus(
          d.select(col("doc_id"), col("text")).unionByName(twins), "doc_id", "text")
        .orderBy(col("jband"))
    }),
    "dedup_cross_corpus" -> ((s, dir) => {
      // dedup the "fresh crawl" (odd doc ids) against the "training set"
      // (even ids): asymmetric LSH band join + exact-Jaccard verify; one
      // row per flagged new doc with its best reference match. Recall is
      // exact at test SFs (same banding regime dedup_minhash_lsh proves).
      // maxBucketSize wired NON-ZERO (round-8): a degenerate boilerplate
      // bucket of B members is B²·bands candidate pairs — quadratic in
      // the hot bucket. 1000 is ~20× the largest legitimate near-dup
      // cluster the corpus generator plants (probed: max combined bucket
      // size is 4 at sf0.1), so recall is untouched at every SF while a
      // mass-duplicated page can never blow the candidate join (DESIGN
      // §11 sizing rule; planted-hot-bucket leg in ScaleProbe).
      val d = t(s, dir, "documents")
      Dedup.crossCorpusNearDups(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", shingleN = 3, bands = 16, rowsPerBand = 4,
          threshold = 0.5, maxBucketSize = 1000)
        .orderBy(col("id_new"))
    }),
    "dedup_minhash_estimate" -> ((s, dir) => // full oracle since round 9:
      // the verification-free path: signature-agreement Jaccard estimate
      // for every LSH candidate pair. The DuckDB oracle recomputes the
      // xxhash64-seeded signatures exactly (OracleHashSql), so the
      // estimates are value-hash-checked; accuracy vs exact Jaccard stays
      // spec-pinned.
      Dedup.minHashEstimatedPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_simhash" -> ((s, dir) => // full oracle since round 9: the DuckDB
      // oracle recomputes the 64-bit SimHash (xxhash64 per-token votes)
      // exactly and brute-forces the hamming<=3 join — pigeonhole banding
      // recall is exact, so brute force IS the op's semantics.
      Dedup.simHashNearDups(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_clusters" -> ((s, dir) =>
      // pairs → duplicate CLUSTERS (connected components): every doc gets
      // its component's min id; the keep-one-per-cluster step pair
      // detection alone can't provide (near-dup isn't transitive).
      // Reads the shared build-once assignment artifact (clusterArtifact).
      clusterArtifact(s, dir)
        .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
        .orderBy(col("doc_id"))),
    "docs_leakage_split" -> ((s, dir) =>
      // leakage-safe train/val/test split: the split is a pure function of
      // the near-dup COMPONENT representative (pmod(xxhash64(rep), 100)),
      // so a connected cluster of near-copies lands on one side of every
      // split boundary by construction — closing the near-copy train/eval
      // leakage content-hash splits admit (splitLeakage measures it; this
      // op zeroes it). One id-grain equi-join against the build-once
      // cluster artifact plus a scan-speed hash projection.
      TextAnalysis.leakageSafeSplit(t(s, dir, "documents"),
          clusterArtifact(s, dir), "doc_id")
        .select(col("doc_id"), col("cluster_rep"), col("split"))
        .orderBy(col("doc_id"))),
    "dedup_semantic" -> ((s, dir) => {
      // SemDeDup (within-k-means-cell cosine dedup, keep-min rule) on its
      // EXACT leg, hash-checked by DuckDB: corpus = originals ∪ int8-
      // dequantized twins (twin id = vec_id + 10M) at the production 0.9
      // threshold. Every twin sits at cosine ≈ 0.9999 of its original and
      // every cross pair stays below 0.62 (measured; SimilaritySpec pins
      // recall exact), so the unique correct output is "keep every
      // original, drop every twin" — deterministic and oracle-expressible
      // even though cell seeding is hash-based. The seed-dependent
      // `bucket` column is deliberately not emitted. The derived corpus is
      // materialized once (localCheckpoint, harness-drained): semanticDedup
      // reads its input from 4 plan branches (sampling, assignment, both
      // pair-search sides).
      val emb = t(s, dir, "embeddings")
      val orig = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val twins = emb
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          Similarity.dequantizeInt8(col("qz")).as("embedding"))
      val corpus = Cleanup.register(orig.unionByName(twins).localCheckpoint(false))
      Similarity.semanticDedup(corpus, threshold = 0.9, nlist = 8, trainIters = 2)
        .select(col("vec_id"), col("keep").cast("int").as("keep_flag"))
        .orderBy(col("vec_id"))
    }),
    "dedup_embedding_cosine" -> ((s, dir) =>
      // LSH-bucketed scale path; equality with the brute-force all-pairs
      // oracle (cosineNearDupPairs) is proven in SimilaritySpec at every
      // test SF, so it shares the brute-force DuckDB oracle below
      Similarity.cosineNearDupLsh(t(s, dir, "embeddings"), 0.45, dim = 64)
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_embedding_cosine_t90" -> ((s, dir) => {
      // the PRODUCTION-threshold LSH demonstration. The raw corpus has no
      // pair above cosine 0.61 at any SF (measured), so a 0.9 threshold
      // over it alone would be a vacuous 0-row check. Instead compose the
      // int8 quantizer: corpus = originals ∪ dequantized twins (twin id =
      // vec_id + 10M — "re-encodes of the same content"). Every (v,
      // deq(v)) twin sits at cosine ≈ 0.9999; every cross pair stays below
      // 0.62 — so threshold 0.9 must find exactly the planted twins, and
      // 16-bit bands prune the candidate set to ~the true-pair count
      // (vs ~1.5× ALL pairs for the 0.45-threshold floor case).
      val emb = t(s, dir, "embeddings")
      val orig = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      // two projection levels, NOT dequantize(quantize(x)) in one
      // expression: dequantize reads the quant struct inside a per-element
      // lambda, and HOF lambdas get no codegen CSE — composed directly,
      // the whole quantize chain re-evaluates per element (O(d²)/row;
      // measured 6.3 s vs 0.8 s for this query at sf0.1). A separate
      // level materializes the struct once per row (CollapseProject keeps
      // multi-referenced non-cheap projections apart).
      val twins = emb
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          Similarity.dequantizeInt8(col("qz")).as("embedding"))
      // materialize the CONSTRUCTED corpus once: the LSH consumer reads its
      // input from 3+ plan branches (bucketing, both verify-join sides,
      // plus the orderBy range-sampling pass), and re-deriving the
      // union+quantize tree per branch measured 6× slower (3.7 s vs
      // 0.6 s at sf0.1). The same rule at 100 TB: never feed a derived
      // corpus to a multi-branch consumer without materializing it.
      // Cleanup.register: the harness drains (unpersists) the checkpoint
      // after the query runs — otherwise each invocation leaves its blocks
      // in executor storage until GC.
      val corpus = Cleanup.register(orig.union(twins).localCheckpoint(false))
      Similarity.cosineNearDupLsh(corpus, 0.9, dim = 64,
          bitsPerBand = 16, bands = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "emb_cross_corpus" -> ((s, dir) => {
      // embedding-space decontamination: flag re-encodes of the reference
      // set arriving in a new batch. reference = the original vectors,
      // corpus = their int8-dequantized twins (id + 10M) — every twin
      // sits at cosine ≈ 0.9999 to exactly its own original (all cross
      // pairs ≤ 0.62 measured), so threshold 0.9 must flag every twin
      // with its original as the best match. Same two-level quantize
      // projection + materialize-the-derived-corpus rules as the t90
      // query (scaladoc there).
      val emb = t(s, dir, "embeddings")
      val orig = Cleanup.register(emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
        .localCheckpoint(false))
      val twins = Cleanup.register(emb
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          Similarity.dequantizeInt8(col("qz")).as("embedding"))
        .localCheckpoint(false))
      // maxBucketSize: same quadratic-hot-bucket guard as
      // dedup_cross_corpus (comment there); 1000 ≫ any test bucket
      Similarity.crossCorpusCosineFlags(twins, orig, 0.9, dim = 64,
          bitsPerBand = 16, bands = 8, maxBucketSize = 1000)
        .orderBy(col("id_new"))
    }),

    // ---- similarity search ----
    "sim_topk_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), 10)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),
    "sim_topk_ivf" -> ((s, dir) => {
      // IVF top-k on its EXACT leg, hash-checked by DuckDB (the
      // dedup_semantic promotion pattern: find the leg where the correct
      // answer is forced): corpus = originals ∪ int8-dequantized twins
      // (twin id = vec_id + 10M), queries = the first 20 originals, k = 1.
      // Every twin sits at cosine ≈ 0.9999 of its original while every
      // cross pair stays below 0.62 (measured), so the unique correct
      // top-1 neighbor of each query is its own twin regardless of the
      // hash-seeded quantizer; nprobe 4 of nlist 8 covers the twin's cell
      // with the same margin semanticDedup's probes=2 leg proves. IVF
      // recall on RAW corpora remains approximate and is spec-pinned
      // instead (SimilaritySpec vs brute force, the 1M clustered probe).
      // Derived corpus materialized once (localCheckpoint, harness-
      // drained): ivfBuild reads it from several plan branches.
      val emb = t(s, dir, "embeddings")
      val orig = Cleanup.register(emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
        .localCheckpoint(false))
      val twins = emb
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          Similarity.dequantizeInt8(col("qz")).as("embedding"))
      val corpus = Cleanup.register(orig.unionByName(twins).localCheckpoint(false))
      Similarity.ivfTopK(corpus, orig.filter(col("vec_id") < 20), 1,
          nlist = 8, nprobe = 4, trainIters = 2)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"))
    }),

    "sim_hard_negatives" -> ((s, dir) => {
      // hard-negative mining for contrastive training: top-5 nearest
      // DIFFERENT-label vectors per query — label predicate inside the
      // join, so same-label crowd-out can't under-fill k
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 20), 5)
        .orderBy(col("query_id"), col("rnk"))
    }),
    "sim_knn_classify" -> ((s, dir) => {
      // k-NN weak labeling: the labeled seed set (vec_id >= 20) votes on
      // each fresh vector (vec_id < 20) — majority of the 10 nearest,
      // ties toward (best cosine, smaller label)
      val emb = t(s, dir, "embeddings")
      Similarity.knnClassify(emb.filter(col("vec_id") >= 20),
          emb.filter(col("vec_id") < 20), 10)
        .orderBy(col("query_id"))
    }),
    "emb_coreset_kcenter" -> ((s, dir) =>
      // greedy k-center coreset (Gonzalez): the 8 most mutually-distant
      // vectors, in selection order — diversity-first labeling budget;
      // the DuckDB oracle replays all 8 farthest-point rounds as a
      // materialized-CTE chain (the vocab_bpe_merges multi-round pattern)
      Similarity.kCenterCoreset(t(s, dir, "embeddings"), 8)
        .orderBy(col("rnk"))),
    "emb_ivf_drift" -> ((s, dir) => {
      // the drift-gated rebuild policy END-TO-END as an oracle-checked
      // query: even vec_ids are the training snapshot (trainIters = 0 so
      // the quantizer is the hash-ordered deterministic seed set — DuckDB
      // replays the selection via OracleHashSql.xxh64LongChain), odd ids
      // arrive as a PLANTED drifted crawl (x·0.25 + 2.0, exact binary
      // constants, collapsing vectors toward the all-ones direction).
      // Output: the full scoreDrift census over assignment cosines plus
      // the rebuild verdict. The verdict comparison is INTEGER: d_ppm is
      // a 4-dp double, so Σ round(d_ppm·10⁴)::long is an exact
      // order-independent sum and `> 2·10⁹` (TVD > 0.1) can never flip
      // on summation order — the DESIGN §12 rule that floats feeding
      // comparisons must be order-pinned.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val ref = emb.filter(col("vec_id") % 2 === 0)
      val drifted = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => (x * lit(0.25) + lit(2.0)).cast("float")).as("embedding"))
      val index = Similarity.ivfBuild(ref, nlist = 16, trainIters = 0)
      val report = Analytics.scoreDrift(
        Similarity.ivfAssignScores(index, ref),
        Similarity.ivfAssignScores(index, drifted), "acos")
      val fired = report.agg(
        (sum(round(col("d_ppm") * 1e4).cast("long")) > 2000000000L)
          .as("rebuild_fired"))
      report.crossJoin(fired) // 1-row verdict broadcast
        .orderBy(col("bucket"))
    }),

    "emb_ivf_recall" -> ((s, dir) => {
      // the ANN recall audit as an oracle-checked query: per query (the
      // first 20 vectors), how many of the exact brute-force top-10 the
      // nprobe=4-of-nlist=16 IVF probe returns. trainIters = 0 pins the
      // quantizer to the hash-ordered seed set (xxh64LongChain replay, the
      // emb_ivf_drift machinery), and BOTH legs rank on the explicit
      // index-order cosine fold with (cos DESC, id ASC) tie-breaks, so the
      // top-k MEMBERSHIP sets — the raw-double k-boundary cut — are
      // bit-identical in DuckDB (the sim_hard_negatives fold rule; raw
      // aggregate hashing over them is safe).
      val emb = t(s, dir, "embeddings")
      Similarity.ivfRecallCensus(emb, emb.filter(col("vec_id") < 20),
          k = 10, nlist = 16, nprobe = 4, trainIters = 0)
        .orderBy(col("query_id"))
    }),

    "emb_hamming_topk" -> ((s, dir) => {
      // binary-quantization search: sign bits + popcount-of-XOR distances
      // — pure integers end to end, so the RAW corpus oracles directly
      // with no planted-twin forcing (see Similarity.hammingTopK)
      val emb = t(s, dir, "embeddings")
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 20), 10, dim = 64)
        .orderBy(col("query_id"), col("rnk"))
    }),

    "emb_sq8_topk" -> ((s, dir) => {
      // scalar 8-bit quantization search (FAISS SQ8): per-vector max-abs
      // scale, round-to-int8 codes, quantized dot = (s_q·s_c)·Σ cq·cc —
      // the training-free 4× compression rung between sign bits and PQ;
      // the integer sum is exact and the two scale multiplies are
      // fixed-order IEEE, so the raw corpus oracles directly (see
      // Similarity.sq8TopK)
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 20), 10)
        .orderBy(col("query_id"), col("rnk"))
    }),
    "emb_hamming_refined" -> ((s, dir) => {
      // BQ + refine end-to-end: Hamming prefilter to 40 candidates, exact
      // dot rerank of only those rows — the codes pick WHO gets scored,
      // never the final order (see Similarity.hammingTopKRefined)
      val emb = t(s, dir, "embeddings")
      Similarity.hammingTopKRefined(emb, emb.filter(col("vec_id") < 20), 10,
          dim = 64, refineMult = 4)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // ---- product quantization (the compressed half of IVF-PQ) ----
    // all three run the iters = 0 codebooks (slices of the 16 hash-smallest
    // vectors, ordered by id) so DuckDB replays train→encode→reconstruct→
    // score end-to-end; every argmin/rank comparison is over index-order
    // folds, bit-identical across engines (the emb_ivf_recall rule)
    "emb_pq_codes" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 0)
      Similarity.pqEncode(emb, books)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("subspace", "code")))
        .orderBy(col("vec_id"), col("subspace"))
    }),
    "emb_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopKTrained(emb, emb.filter(col("vec_id") < 20), 10,
          m = 8, ksub = 16, iters = 0)
        .orderBy(col("query_id"), col("rnk"))
    }),
    "emb_pq_distortion" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 0)
      Similarity.pqDistortion(emb, books).orderBy(col("vec_id"))
    }),
    "emb_ivfpq_topk" -> ((s, dir) => {
      // the full IVF-PQ serving shape end-to-end: coarse probe prunes to
      // nprobe=4 of nlist=16 buckets, PQ codes score the probed slice via
      // ADC. Both quantizers pinned to the (shared) hash-ordered seed set,
      // so DuckDB replays bucket assignment, probe choice, encode,
      // reconstruction, and the ADC ranking — all raw-double cuts are
      // index-order folds on both sides.
      val emb = t(s, dir, "embeddings")
      val index = Similarity.ivfPqBuild(emb, nlist = 16, m = 8, ksub = 16,
        trainIters = 0, pqIters = 0)
      Similarity.ivfPqQuery(index, emb.filter(col("vec_id") < 20), 10, nprobe = 4)
        .orderBy(col("query_id"), col("rnk"))
    }),
    "emb_ivfpq_drift" -> ((s, dir) => {
      // the COMPOSITE index's drift-gated rebuild end-to-end (the
      // emb_ivf_drift machinery over the residual-distortion lattice):
      // even ids are the training snapshot, odd ids the planted drifted
      // crawl (x·0.25 + 2.0 — exact binary constants); the monitor is
      // scoreDrift over ivfPqDistortion (assign → residual → encode →
      // ‖resid − recon‖², all frozen artifacts), and the verdict is the
      // integer-summed TVD > 0.1 gate ivfPqMaybeRebuild applies.
      // ksub = 32 > nlist = 16 so the pinned codebooks carry 16 REAL
      // residual codewords beyond the 16 zero seed-residuals — the
      // monitor measures codebook coverage, not just coarse distance
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val ref = emb.filter(col("vec_id") % 2 === 0)
      val drifted = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => (x * lit(0.25) + lit(2.0)).cast("float")).as("embedding"))
      val index = Similarity.ivfPqBuild(ref, nlist = 16, m = 8, ksub = 32,
        trainIters = 0, pqIters = 0)
      // the census feeds TWO branches (output rows + the verdict
      // aggregate) — materialize its ≤|lattice| rows once or the whole
      // assign→residual→encode→reconstruct pipeline runs twice for both
      // populations (the dedup_embedding_cosine multi-branch rule)
      val report = graft.Cleanup.register(Analytics.scoreDrift(
          Similarity.ivfPqDistortion(index, ref),
          Similarity.ivfPqDistortion(index, drifted), "pq_err_r")
        .localCheckpoint(false))
      val fired = report.agg(
        (sum(round(col("d_ppm") * 1e4).cast("long")) > 2000000000L)
          .as("rebuild_fired"))
      report.crossJoin(fired) // 1-row verdict broadcast
        .orderBy(col("bucket"))
    }),

    "docs_rrf_hybrid" -> ((s, dir) => {
      // hybrid retrieval: lexical BM25 top-50 ⊕ dense cosine top-50 fused
      // by reciprocal rank (Analytics.rrfFuse) — doc_id and vec_id share
      // the synthetic id space, the classic two-tower retrieval join
      import org.apache.spark.sql.expressions.Window
      val lex = TextAnalysis.bm25Score(t(s, dir, "documents"), "doc_id", "text",
          Seq("merge", "window", "scan"))
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(50)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Analytics.rrfFuse(Seq(lex, dense), "doc_id", kConst = 60L, topK = 20)
        .orderBy(col("doc_id"))
    }),
    "sim_mmr_select" -> ((s, dir) => {
      // maximal-marginal-relevance: the 8 most relevant-AND-mutually-
      // distinct vectors for query vec 0 at λ = 0.7 — the diversified
      // retrieval twin of emb_coreset_kcenter (see Similarity.mmrSelect;
      // oracle replays the greedy rounds as a materialized-CTE chain)
      val emb = t(s, dir, "embeddings")
      Similarity.mmrSelect(emb, emb.filter(col("vec_id") === 0), 8, 0.7)
        .orderBy(col("rnk"))
    }),
    "emb_whiten_residual" -> ((s, dir) => {
      // all-but-the-top whitening: the powerIteration component applied —
      // per-vector before/after L2 norms of the dominant-direction
      // removal (Similarity.removeDominantComponent); the oracle reuses
      // the pca CTE chain plus one projection
      val emb = t(s, dir, "embeddings")
      val v = Similarity.powerIterationVector(emb, iters = 6)
      Similarity.removeDominantComponent(emb, v).orderBy(col("vec_id"))
    }),
    "emb_pca_power" -> ((s, dir) =>
      // dominant principal component by power iteration — fixed-point
      // (2^-20) quantized addends make the corpus-scale reduction
      // order-independent and engine-exact (see Similarity.powerIteration;
      // the oracle replays all 6 rounds as a materialized-CTE chain)
      Similarity.powerIteration(t(s, dir, "embeddings"), iters = 6)
        .orderBy(col("pos"))),
    "emb_mean_pool" -> ((s, dir) =>
      // per-bucket embedding centroids (cluster/shard summarization)
      Similarity.meanPool(t(s, dir, "embeddings"), pmod(col("vec_id"), lit(8L)))
        .orderBy(col("grp"), col("pos"))),
    "emb_l2_norm" -> ((s, dir) =>
      // per-vector L2 norm + dimension: the normalization prerequisite for
      // cosine ops, as a pure HOF left-fold (seed 0.0, elements cast to
      // double BEFORE squaring) — the identical summation order the DuckDB
      // oracle's list_reduce uses, so the rounded norms are bit-exact.
      // Scan-speed, shuffle-free.
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(sqrt(aggregate(
            transform(col("embedding"), x => x.cast("double") * x.cast("double")),
            lit(0.0), (a, x) => a + x)), 4).as("l2_norm"),
          size(col("embedding")).as("dim"))
        .orderBy(col("vec_id"))),
    "emb_dim_stats" -> ((s, dir) =>
      // per-dimension corpus health profile (dead/saturated/off-center
      // dims) — exact-integer-sum means, O(1) agg state per dimension
      Similarity.dimStats(t(s, dir, "embeddings"))
        .orderBy(col("pos"))),
    "emb_quant_error" -> ((s, dir) => {
      // int8 storage quantization: per-vector scale + reconstruction error
      // + cosine fidelity of the dequantized vector vs the original
      val e = t(s, dir, "embeddings")
        .withColumn("qz", Similarity.quantizeInt8(col("embedding")))
        .withColumn("deq", Similarity.dequantizeInt8(col("qz")))
      e.select(
        col("vec_id"),
        round(col("qz.scale"), 6).as("scale_r"),
        round(array_max(zip_with(col("deq"), col("embedding"),
          (a, b) => abs(a - b.cast("double")))), 6).as("max_err_r"),
        round(Similarity.cosine(col("deq"), col("embedding")), 4).as("cos_r"))
        .orderBy(col("vec_id"))
    }),

    // ---- text analysis ----
    "text_token_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("sum_tokens"),
          sum(TextAnalysis.subwordCount(col("text"))).as("sum_subwords"),
          round(avg(TextAnalysis.tokenCount(col("text"))), 4).as("avg_tokens"),
        )
        .orderBy(col("lang"))),
    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),
    "text_langid_confusion" -> ((s, dir) =>
      // language-ID evaluation as a confusion matrix (actual × predicted
      // counts) — the accuracy report a curation run ships with; all
      // reduction, |langs|² keys
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))),
    "dedup_cluster_sizes" -> ((s, dir) =>
      // dedup impact report: distribution of duplicate-cluster sizes
      // (how much of the corpus is singletons vs k-way duplicates) —
      // two tiny aggs over the shared assignment artifact
      Dedup.clusterSizeHistogram(clusterArtifact(s, dir))
        .orderBy(col("cluster_size"))),
    "dedup_keep_best" -> ((s, dir) => {
      // canonicalization: clusters → keep the HIGHEST-QUALITY member of
      // each cluster (ties to the smallest id) — the "which copy survives
      // dedup" decision, not just "a copy survives"; consumes the shared
      // assignment artifact
      val scored = TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("quality_score"))
      Dedup.keepBest(clusterArtifact(s, dir), scored, "doc_id", "quality_score")
        .orderBy(col("cluster_rep"))
    }),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("punct_ratio"), col("stopword_ratio"), col("quality_score"))
        .orderBy(col("doc_id"))),
    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),
    "docs_split_assign" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(TextAnalysis.fingerprint(col("text")), lit(100L)).as("bucket"),
          TextAnalysis.splitAssignment(col("text")).as("split"))
        .orderBy(col("doc_id"))),
    "docs_chunk" -> ((s, dir) =>
      // RAG / context-window chunking: 120-char windows every 90 chars
      // (25% overlap), source offsets preserved for span mapping
      TextAnalysis.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
          size = 120, stride = 90)
        .orderBy(col("doc_id"), col("chunk_id"))),
    "docs_split_leakage" -> ((s, dir) =>
      // train→held-out contamination: 3-gram containment of every
      // val/test doc against the train split's gram set, splits from the
      // same content-hash assignment as docs_split_assign
      TextAnalysis.splitLeakage(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"))),
    "text_decontaminate" -> ((s, dir) => {
      // benchmark = docs with doc_id < 10 (stand-in eval set); flags any
      // training doc whose distinct 3-gram containment vs it is high
      val docs = t(s, dir, "documents")
      TextAnalysis.decontaminationScore(
          docs, docs.filter(col("doc_id") < 10), "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    }),
    "docs_curation_pipeline" -> ((s, dir) => {
      // the COMPOSED curation pipeline as one oracle-checked query —
      // normalize → quality gate → stratified sample → exact dedup →
      // split assignment, the batch shape of the streaming pipeline spec.
      // Every stage is individually oracle-proven; this pins that they
      // compose (each stage consumes the previous stage's exact output).
      val docs = t(s, dir, "documents")
      // normalize ONCE per row (round 16): without the materialization,
      // predicate pushdown + CollapseProject inline the 5-regex chain
      // into every consumer — the physical plan evaluated it SIX times
      // per doc (token-count filter + the sampler's pushed fingerprint
      // predicate + the norm projection, × the two scan branches
      // exactDedup's min-id aggregate duplicates), and JFR put ~45% of
      // the query in java.util.regex. The normalized corpus is the
      // natural write-once artifact of a real curation pipeline anyway.
      val normed = Cleanup.register(docs
        .select(col("doc_id"), col("lang"),
          TextAnalysis.normalize(col("text")).as("norm"))
        .localCheckpoint(false))
      val cleaned = normed
        .filter(TextAnalysis.tokenCount(col("norm")) >= 5)
      val sampled = TextAnalysis.stratifiedSample(cleaned, "lang", "norm",
        Map("en" -> 600), defaultPerMille = 800)
      Dedup.exactDedup(sampled, "norm", "doc_id")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.splitAssignment(col("norm")).as("split"),
          TextAnalysis.tokenCount(col("norm")).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    "text_decontaminate_bloom" -> ((s, dir) => {
      // the scale shape of text_decontaminate: benchmark grams as a compact
      // Bloom sketch, probed in a shuffle-free scan. Promoted to a FULL
      // hash oracle via the no-false-negatives verdict (the forced-outcome
      // pattern): per doc, bloom_hits ≥ exact bench_hits is the Bloom
      // CONTRACT — deterministic (the filter is hash-seeded, not random),
      // so both engines state the boolean identically; the exact n_grams
      // and bench_hits ride along so the oracle checks real values. The
      // exact leg reuses decontaminationScore — precisely the side-by-side
      // the FP-only-extra spec pins, now driver-checked per round.
      val docs = t(s, dir, "documents")
      val bloom = TextAnalysis.benchmarkBloom(
        docs.filter(col("doc_id") < 10), "text", 3, fpp = 1e-6)
      val approx = TextAnalysis.decontaminationScoreBloom(docs, bloom, "doc_id", "text", 3)
        .select(col("doc_id"), col("bloom_hits"))
      TextAnalysis.decontaminationScore(
          docs, docs.filter(col("doc_id") < 10), "doc_id", "text", 3)
        .join(approx.hint("merge"), "doc_id")
        .select(col("doc_id"), col("n_grams"), col("bench_hits"),
          (col("bloom_hits") >= col("bench_hits")).as("bloom_superset_ok"))
        .orderBy(col("doc_id"))
    }),
    "text_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text"), 2).as("rep_ratio"))
        .orderBy(col("doc_id"))),
    "text_normalize" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("norm_text"))
        .orderBy(col("doc_id"))),
    "text_pack_bins" -> ((s, dir) =>
      TextAnalysis.packBins(t(s, dir, "documents"), "doc_id", "text", 4096L, Seq("lang"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
        .orderBy(col("lang"), col("bin"))),
    "docs_sample_stratified" -> ((s, dir) =>
      // corpus mixing: downsample the dominant language, keep more of the
      // rest — content-hash keyed, so the sample is stable across re-runs
      TextAnalysis.stratifiedSample(t(s, dir, "documents"), "lang", "text",
          Map("en" -> 200, "fr" -> 400, "es" -> 400, "de" -> 600, "zh" -> 600),
          defaultPerMille = 300)
        .select(col("doc_id"), col("lang"),
          pmod(TextAnalysis.fingerprint(col("text")), lit(1000L)).as("bucket"))
        .orderBy(col("doc_id"))),
    "docs_weighted_sample" -> ((s, dir) =>
      // priority sampling: deterministic weighted sample (w = n_chars)
      // without replacement, exactly 100 docs; est_w = max(w, τ) is the
      // unbiased subset-sum estimator (τ = the 101st priority) — the
      // column that lets the sample answer "how many chars/tokens does
      // this represent" without rescanning the corpus
      TextAnalysis.prioritySample(t(s, dir, "documents"), "doc_id", "n_chars",
          "text", 100)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("priority"), 4).as("priority_r"),
          round(col("est_w"), 4).as("est_w_r"))
        .orderBy(col("doc_id"))),
    "docs_weighted_sample_by" -> ((s, dir) =>
      // stratified priority sampling: exactly 20 docs PER LANGUAGE,
      // weighted by n_chars — the per-source quota form (a global sample
      // lets one heavy source starve the rest); per-group τ estimator,
      // WindowGroupLimit top-(k+1) (see TextAnalysis.prioritySampleBy)
      TextAnalysis.prioritySampleBy(t(s, dir, "documents"), "lang", "doc_id",
          "n_chars", "text", 20)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("priority"), 4).as("priority_r"),
          round(col("est_w"), 4).as("est_w_r"))
        .orderBy(col("doc_id"))),
    "vocab_bpe_merges" -> ((s, dir) => // iterative trainer: rows-only oracle
      // BPE tokenizer induction: one corpus-scale word count, then 20
      // merge rounds over the small weighted vocab; deterministic
      // (lexicographic tie-break) — the trace is spec-pinned by hand
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", 20)
        .orderBy(col("rank"))),
    "vocab_unigram_train" -> ((s, dir) => {
      // unigram-LM (SentencePiece-style) tokenizer TRAINING, the BPE
      // sibling (TextAnalysis.unigramTrain): substring-seeded inventory
      // (seedK = 2·vocabK), 3 hard-EM rounds (exact fixed-point log2
      // scores -> per-chunk Viterbi -> usage census -> prune to vocabK),
      // every step integer arithmetic — the DuckDB oracle replays the
      // plant, the MaxLen pre-chunking, seeding, all rounds (prune
      // included) and the final scores as ONE chained-CTE statement with
      // a RELATIONAL position-DP (OracleUnigramSql). Output: the full
      // surviving inventory with final usage counts and the
      // add-one-smoothed scores an encoder applies
      val m = unigramArtifact(s, dir)
      import s.implicits._
      m.pieces.toDF("piece", "n_uses", "score_fp").orderBy(col("piece"))
    }),
    "vocab_unigram_encode" -> ((s, dir) =>
      // tokenizer APPLICATION: per-doc exact piece count under the
      // trained unigram model — Viterbi over the DISTINCT chunk vocab
      // (one kernel pass), docs re-acquire counts through ONE hash-keyed
      // equi-join (the bpeEncode shape); the oracle replays train+encode
      TextAnalysis.unigramEncode(unigramCorpus(s, dir), "doc_id", "text",
          unigramArtifact(s, dir))
        .orderBy(col("doc_id"))),
    "docs_unigram_bits" -> ((s, dir) =>
      // LM quality surface (round 14): per-doc surprisal under the
      // trained unigram model — bits_fp = -Σ piece score_fp (2^-16-bit
      // units), and the integer bits-per-token the CCNet-style
      // perplexity gate thresholds on. Zero new arithmetic beyond the
      // encode kernel's own integers, so the whole surface hash-oracles;
      // compare docs_lm_score (the bigram model's gate) for the same
      // family's transcendental-free design
      TextAnalysis.unigramScore(unigramCorpus(s, dir), "doc_id", "text",
          unigramArtifact(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("bits_fp"),
          when(col("n_tokens") > 0,
            expr("bits_fp DIV n_tokens")).as("bpt_fp"))
        .orderBy(col("doc_id"))),
    "docs_tokenizer_compare" -> ((s, dir) => {
      // the pre-vocab-commit report every pipeline runs before freezing a
      // tokenizer (round-15, verdict item 6): BPE (fixed table) vs
      // unigram-LM (trained artifact) over the SAME corpus (the
      // augmented/planted one the unigram chain uses, so both tokenizers
      // see the >MaxLen branch), per language — pieces, fertility
      // (pieces/word, the vocab_fertility arithmetic) and the unigram
      // model's bits/token (the docs_unigram_bits arithmetic). ZERO new
      // arithmetic: three existing oracle chains composed; the oracle
      // replays both tokenizers in ONE statement (OracleBpeSql fragment
      // namespaced beside OracleUnigramSql.bitsCtes).
      val aug = unigramCorpus(s, dir)
      val langs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val bpe = TextAnalysis.bpeEncode(aug, "doc_id", "text", BpeFixedMerges)
        .select(col("doc_id"), col("n_tokens").as("__bp"))
      val uni = TextAnalysis.unigramScore(aug, "doc_id", "text",
          unigramArtifact(s, dir))
        .select(col("doc_id"), col("n_tokens").as("__up"), col("bits_fp"))
      val words = aug.select(col("doc_id"),
        size(filter(TextAnalysis.tokens(col("text")),
          w => length(w) > 0)).as("__nw"))
      words.join(langs.hint("merge"), "doc_id")
        .join(bpe.hint("merge"), "doc_id")
        .join(uni.hint("merge"), "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("__nw").cast("long")).as("n_words"),
          sum(col("__bp").cast("long")).as("bpe_pieces"),
          sum(col("__up")).as("uni_pieces"),
          sum(col("bits_fp")).as("uni_bits_fp"))
        .select(col("lang"), col("n_words"), col("bpe_pieces"),
          col("uni_pieces"),
          round(col("bpe_pieces").cast("double")
            / greatest(col("n_words"), lit(1L)), 4).as("bpe_fertility"),
          round(col("uni_pieces").cast("double")
            / greatest(col("n_words"), lit(1L)), 4).as("uni_fertility"),
          col("uni_bits_fp"),
          expr("uni_bits_fp DIV greatest(uni_pieces, CAST(1 AS BIGINT))")
            .as("uni_bpt_fp"))
        .orderBy(col("lang"))
    }),
    "vocab_bpe_encode" -> ((s, dir) =>
      // tokenizer APPLICATION (TextAnalysis.bpeEncode): corpus piece
      // census under the fixed merge table — every piece is a char or a
      // merge product, so the census is ≤ |alphabet| + |merges| rows at
      // any SF; the oracle replays the per-rank greedy fold as a DuckDB
      // list_reduce chain (OracleBpeSql)
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
          BpeFixedMerges)
        .select(explode(col("enc_tokens")).as("piece"))
        .groupBy(col("piece")).agg(count(lit(1)).as("freq"))
        .orderBy(col("piece"))),
    "docs_bpe_token_counts" -> ((s, dir) =>
      // per-document EXACT token count under the same fixed table — the
      // packing/budget-selection input the whitespace and regex counters
      // approximate; empty docs keep n_tokens = 0 (left-join totality)
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
          BpeFixedMerges)
        .select(col("doc_id"), col("n_tokens"))
        .orderBy(col("doc_id"))),
    "vocab_fertility" -> ((s, dir) => {
      // tokenizer fertility per language under the fixed merge table:
      // pieces/word (high = the vocab under-serves that language — each
      // word shatters into more pieces, so the same text costs more
      // tokens) and chars/piece (the compression the vocab achieves).
      // Exact integer censuses + two correctly-rounded IEEE divides;
      // aggregation grain is |languages|
      val docs = t(s, dir, "documents")
      val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text", BpeFixedMerges)
        .select(col("doc_id"), col("n_tokens"),
          aggregate(col("enc_tokens"), lit(0L),
            (acc, p) => acc + length(p).cast("long")).as("nc"))
      val words = docs.select(col("doc_id"), col("lang"),
        size(filter(TextAnalysis.tokens(col("text")),
          w => length(w) > 0)).as("nw"))
      words.join(enc.hint("merge"), "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("n_tokens").cast("long")).as("n_pieces"),
          sum(col("nw").cast("long")).as("n_words"),
          sum(col("nc")).as("n_chars"))
        .select(col("lang"), col("n_pieces"), col("n_words"), col("n_chars"),
          round(col("n_pieces").cast("double")
            / greatest(col("n_words"), lit(1L)), 4).as("fertility"),
          round(col("n_chars").cast("double")
            / greatest(col("n_pieces"), lit(1L)), 4).as("chars_per_piece"))
        .orderBy(col("lang"))
    }),
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.topTermsPerDoc(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rnk"))),
    "text_dup_spans" -> ((s, dir) =>
      // substring-level duplication profile (Lee et al. shape): per doc,
      // how many 5-gram positions are cross-document duplicated text
      // hashGrams (round 16): the production xxhash64 keying — 8-byte
      // gram ids through the df exchange instead of 5-word strings;
      // output spec-pinned identical to the string keying (DedupSpec)
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text", 5,
          hashGrams = true)
        .orderBy(col("doc_id"))),
    "text_dup_spans_removed" -> ((s, dir) =>
      // the REWRITE over the same flagging rule: cut every token covered
      // by a cross-document duplicated 5-gram, reassemble the remainder
      // (Dedup.removeDupSpans — measure and rewrite share one rule, so
      // n_removed here is consistent with text_dup_spans' n_dup counts)
      Dedup.removeDupSpans(t(s, dir, "documents"), "doc_id", "text", 5,
          hashGrams = true) // round 16: production keying, spec-pinned
        .orderBy(col("doc_id"))),
    "text_remove_spans_cross" -> ((s, dir) => {
      // the rewrite against a PREBUILT reference gram index
      // (Dedup.dupGramBuild / removeDupSpansWith): the index knows only
      // the even-id half's duplicated grams, so the rewrite cuts what the
      // REFERENCE taught — the "scrub new crawls of known boilerplate"
      // production shape (streaming form: dupGramBloom + the stateless
      // removeDupSpansBloom projection, parity spec-pinned)
      val docs = t(s, dir, "documents")
      Dedup.removeDupSpansWith(docs,
          Dedup.dupGramBuild(docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", 5, hashGrams = true), // round 16 keying
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "text_winnowing" -> ((s, dir) =>
      // MOSS winnowing fingerprints [Schleimer et al., SIGMOD 2003]: the
      // min-hash-per-window selection whose coverage guarantee (every
      // window contributes a fingerprint) and ~2/(w+1) density make it
      // the gram index you can AFFORD to self-join at corpus scale; the
      // selection rides the hash VALUES, so the oracle replays xxhash64
      // in closed form (Dedup.winnowFingerprints / OracleHashSql)
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
          n = 3, window = 4)
        .orderBy(col("doc_id"), col("fp"))),
    "text_winnowing_matches" -> ((s, dir) =>
      // the detector over the sparse index: doc pairs sharing >= 2
      // df-capped fingerprints — quote-reuse/plagiarism candidates at
      // ~(w+1)²/4 the containment join's candidate cost
      // trigrams + a TIGHT df cap: the synthetic 25-word vocabulary
      // makes bigram fingerprints non-discriminative (the sf0.1 bigram
      // census measured ~10^7 candidate pairs — the exact blowup the
      // df cap exists to prevent; with n = 3, maxDf = 20 the candidate
      // budget is sum df^2 <= 400*|fps|)
      Dedup.winnowMatches(t(s, dir, "documents"), "doc_id", "text",
          n = 3, window = 4, minShared = 2, maxDf = 20)
        .orderBy(col("id_a"), col("id_b"))),
    "text_winnowing_cross" -> ((s, dir) => {
      // the quote-reuse detector through the Build/With seam: fresh
      // crawl docs (odd ids) sharing >= 2 capped fingerprints with some
      // training doc (even ids) — the sparse-index sibling of
      // dedup_containment_cross, at ~2/(w+1) the index size; reference-
      // side df cap only (batch-invariant), streaming twin spec-pinned
      val d = t(s, dir, "documents")
      Dedup.winnowFlagsWith(d.filter(col("doc_id") % 2 === 1),
          Dedup.winnowBuild(d.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", n = 3, window = 4, maxDf = 20),
          "doc_id", "text", minShared = 2)
        .orderBy(col("id_new"), col("id_ref"))
    }),
    "text_bm25" -> ((s, dir) =>
      // retrieval scoring for topic mining: rational-idf Okapi BM25 of
      // every doc vs a fixed 3-term query (see bm25Score for why no ln)
      TextAnalysis.bm25Score(t(s, dir, "documents"), "doc_id", "text",
          Seq("merge", "window", "scan"))
        .orderBy(col("doc_id"))),
    "docs_shuffle_shards" -> ((s, dir) =>
      // deterministic training shuffle: content-salted hash → shard,
      // rank within shard = reproducible "random" example order
      TextAnalysis.shuffleShards(t(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy(col("shard"), col("pos"))),
    "docs_length_histogram" -> ((s, dir) =>
      // corpus profiling: per-language doc-length histogram, 100-char
      // buckets capped at 9 (the "look at your data" pre-curation step).
      // Pure integer bucketing + one aggregation — exact at any scale.
      t(s, dir, "documents")
        .select(col("lang"),
          least(floor(col("n_chars").cast("double") / lit(100)), lit(9L))
            .cast("int").as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("bucket"))),
    "text_top_ngrams" -> ((s, dir) =>
      TextAnalysis.topNGrams(t(s, dir, "documents"), "text", 2, 20)),
    "text_simjoin_tfidf" -> ((s, dir) =>
      // exact weighted near-dup scoring as a df-capped sparse similarity
      // join — the bounded-exact third leg beside minhash_lsh (approx) and
      // ngram_jaccard (quadratic oracle); see TextAnalysis.tfidfSimJoin
      TextAnalysis.tfidfSimJoin(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, dfCap = 20, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),
    "text_word_lift" -> ((s, dir) =>
      // co-occurrence mining over the top-40 vocabulary: which word pairs
      // appear together more than their frequencies predict (lift > 1) —
      // ordered by the rational lift score, ties broken lexically
      TextAnalysis.wordLift(t(s, dir, "documents"), "doc_id", "text",
          vocabK = 40, minCoDocs = 5)
        .orderBy(col("lift_r").desc, col("term_a"), col("term_b"))
        .limit(20)),
    "docs_quality_gate" -> ((s, dir) =>
      // distribution-relative curation cut: keep docs at/above their
      // language's median quality score (absolute thresholds don't
      // transfer across languages)
      TextAnalysis.qualityGate(t(s, dir, "documents"), "text")
        .orderBy(col("doc_id"))),
    "docs_dedup_survivorship" -> ((s, dir) =>
      // per-quality-decile kept/dropped census of the exact keep-min dedup
      // — the "did dedup shift my quality mix" monitor (see
      // Dedup.dedupSurvivorship)
      Dedup.dedupSurvivorship(t(s, dir, "documents"))
        .orderBy(col("bucket"))),
    "docs_cluster_labels" -> ((s, dir) => {
      // the data-map op end-to-end: assign embeddings to the hash-seeded
      // 8-bucket quantizer (trainIters = 0 — the xxh64LongChain replay),
      // join documents on the shared id space, label each bucket with its
      // top-5 lift terms. Lift is ONE IEEE divide of exact-integer-valued
      // doubles, so the (lift DESC, n_bw DESC, term ASC) ranking is
      // bit-identical in DuckDB.
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val (ids, mat) = Similarity.collectCentroids(Similarity.centroids(emb, 8))
      val assigned = Similarity.assignTo(emb, ids, mat)
        .select(col("vec_id").as("doc_id"), col("bucket"))
      Analytics.clusterLabels(docs, assigned, topK = 5, minDocs = 2)
        .orderBy(col("bucket"), col("rnk"))
    }),

    "docs_classifier_train" -> ((s, dir) => {
      // the fasttext-shaped linear quality classifier, trained end-to-end
      // (64 full-batch LMS rounds over density-relative hashed
      // bag-of-words features, teacher = the stopword-density rule) —
      // distilling a quality gate into a scan-speed linear scorer, the
      // CCNet/LLaMA-pipeline curation op. Fixed-point (2^-20) quantized
      // gradient sums make the training trajectory order-independent and
      // engine-exact: the oracle replays all 64 rounds as a chained-CTE
      // loop (OracleClassifierSql) and hash-matches the weights
      val (w, b) = classifierArtifact(s, dir)
      TextAnalysis.classifierWeightsFrom(w, b, s)
        .select(col("pos"), round(col("w"), 6).as("w_r"))
        .orderBy(col("pos"))
    }),
    "docs_classifier_apply" -> ((s, dir) => {
      // the trained model applied: per-source prediction census (margin
      // > 0 => predicted target-class). The margin is a bit-identical
      // index-order IEEE fold against the learned literals, so the
      // boolean census is exact — the accuracy/coverage report a
      // classifier-gated curation stage ships with
      val (w, b) = classifierArtifact(s, dir)
      val sc = TextAnalysis.classifierScore(col("text"), w, b, dim = 32)
      classifierLabeled(s, dir)
        .select(col("source"), classifierTarget.as("__pos"), sc.as("__sc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__sc") > 0, 1L).otherwise(0L)).as("n_pred_pos"),
          sum(when((col("__sc") > 0) === col("__pos"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc_r", round(col("n_correct").cast("double") /
          col("n_docs").cast("double"), 4))
        .orderBy(col("source"))
    }),
    "docs_classifier_train_sampled" -> ((s, dir) => {
      // sampled-shard retrain (classifierTrainSampled): the SAME 64-round
      // LMS trajectory over the deterministic doc_id % 4 == 0 quarter
      // shard — iters/4 corpus-scan-equivalents per retrain — with the
      // learned weights applied CORPUS-WIDE through the literal seam.
      // Output is the per-source prediction census over the FULL corpus,
      // so the hash transitively pins the whole sampled trajectory AND
      // the apply seam; comparing acc_r against docs_classifier_apply's
      // is the sampled-vs-full validation surface the
      // classifierTrainSampled scaladoc prescribes
      val (w, b) = sampledClassifierArtifact(s, dir)
      val sc = TextAnalysis.classifierScore(col("text"), w, b, dim = 32)
      classifierLabeled(s, dir)
        .select(col("source"), classifierTarget.as("__pos"), sc.as("__sc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__sc") > 0, 1L).otherwise(0L)).as("n_pred_pos"),
          sum(when((col("__sc") > 0) === col("__pos"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc_r", round(col("n_correct").cast("double") /
          col("n_docs").cast("double"), 4))
        .orderBy(col("source"))
    }),
    "docs_classifier_multiclass" -> ((s, dir) => {
      // one-vs-rest distillation of the 3-band density teacher into 3
      // scan-speed linear probes (24 LMS rounds each over ONE shared
      // featurized checkpoint), reported as the (teacher, predicted)
      // confusion census. Argmax ties break to the alphabetically-first
      // class — bit-exact in both engines (margins are index-order
      // folds), and the oracle replays all 3×8 training rounds as
      // prefixed CTE chains
      val models = multiclassArtifact(s, dir)
      classifierLabeled(s, dir)
        .select(densityBand.as("band_true"),
          TextAnalysis.classifierPredict(col("text"), models, dim = 32)
            .as("band_pred"))
        .groupBy(col("band_true"), col("band_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("band_true"), col("band_pred"))
    }),
    "docs_classifier_multiclass_apply" -> ((s, dir) => {
      // the SAME confusion census scored through the RELATIONAL seam:
      // the one-vs-rest artifact lives as a (cls, cls_idx, pos, w)
      // relation (classifierWeightsMulti — at 100 TB: train once,
      // persist the 3·33-row table, score every later crawl or stream
      // through classifierPredictWith's broadcast fold). Predictions are
      // bit-identical to the in-memory path (spec-pinned), so this query
      // shares docs_classifier_multiclass's full 3×24-round oracle
      // replay — the strongest possible check that the seam loses
      // nothing: same hash, different execution path
      val model = TextAnalysis.classifierWeightsMultiFrom(
        multiclassArtifact(s, dir), s)
      TextAnalysis.classifierPredictWith(
          classifierLabeled(s, dir).select(col("text"),
            densityBand.as("band_true")),
          "text", model, dim = 32)
        .groupBy(col("band_true"), col("clf_pred").as("band_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("band_true"), col("band_pred"))
    }),
    "docs_classifier_calibration" -> ((s, dir) => {
      // the reliability diagram next to the accuracy number: margin
      // buckets (0.25-wide, clamped to [-2,2)) × observed teacher-positive
      // share. Bucket boundaries are engine-exact (index-order-fold margin
      // × a power-of-two constant, exact floor, integer clamp), so the
      // census hash-oracles through the same 64-round weight replay
      val (w, b) = classifierArtifact(s, dir)
      TextAnalysis.classifierCalibration(classifierLabeled(s, dir), "text",
          classifierTarget, w, b, dim = 32)
        .orderBy(col("bucket"))
    }),
    "docs_dsir_lift" -> ((s, dir) =>
      // the DSIR hashed-bucket importance model [Xie et al. 2023]: per
      // feature bucket, target-subset vs whole-corpus token counts and
      // the add-one-smoothed importance ratio — exact integer censuses
      // plus three correctly-rounded IEEE divides, so the 32-row model
      // relation is engine-exact (see TextClassifier.dsirBucketLift)
      TextAnalysis.dsirBucketLift(classifierLabeled(s, dir), "text",
          classifierTarget, dim = 32)
        .select(col("bucket"), col("n_target"), col("n_all"),
          round(col("lift"), 6).as("lift_r"))
        .orderBy(col("bucket"))),
    "docs_dsir_select" -> ((s, dir) =>
      // DSIR-shaped domain-targeted selection: top-50 documents by mean
      // per-token importance ratio (ratio form, not log form — the
      // no-transcendental discipline; see TextClassifier.dsirSelect).
      // The lift vector rides as a broadcast 1-row array; the top-k is
      // TakeOrderedAndProject — no corpus shuffle, no window
      TextAnalysis.dsirSelect(classifierLabeled(s, dir), "doc_id", "text",
          classifierTarget, dim = 32, k = 50)
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("dsir_w"), 6).as("w_r"))
        .orderBy(col("doc_id"))),

    "docs_dsir_lift2" -> ((s, dir) =>
      // the DSIR paper's ACTUAL feature space: hashed unigrams + BIGRAMS
      // (maxN = 2) — bigrams carry the word-order signal a pure bag of
      // words discards; same dim-bounded census/smoothing machinery, the
      // oracle hashes w_i||' '||w_{i+1} through the identical XXH64 chain
      TextAnalysis.dsirBucketLift(classifierLabeled(s, dir), "text",
          classifierTarget, dim = 32, maxN = 2)
        .select(col("bucket"), col("n_target"), col("n_all"),
          round(col("lift"), 6).as("lift_r"))
        .orderBy(col("bucket"))),
    "docs_dsir_select2" -> ((s, dir) =>
      // selection under the unigram+bigram importance model — the full
      // Xie et al. configuration, end-to-end
      TextAnalysis.dsirSelect(classifierLabeled(s, dir), "doc_id", "text",
          classifierTarget, dim = 32, k = 50, maxN = 2)
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("dsir_w"), 6).as("w_r"))
        .orderBy(col("doc_id"))),
    "docs_dsir_resample" -> ((s, dir) => {
      // DSIR as the paper actually runs it: importance RESAMPLING — the
      // frozen bucket-lift model weighs every document (dsirWeightWith)
      // and the deterministic priority sampler draws 50 without
      // replacement ∝ weight, τ subset-sum estimator riding along. Pure
      // composition of two audited ops: census + broadcast fold, then
      // top-(k+1) TakeOrderedAndProject — no corpus shuffle anywhere
      val labeled = classifierLabeled(s, dir)
      val weighted = TextAnalysis.dsirWeightWith(labeled, "text",
        TextAnalysis.dsirBucketLift(labeled, "text", classifierTarget,
          dim = 32), dim = 32)
      TextAnalysis.prioritySample(weighted, "doc_id", "dsir_w", "text", 50)
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("dsir_w"), 6).as("w_r"),
          round(col("priority"), 4).as("priority_r"),
          round(col("est_w"), 4).as("est_w_r"))
        .orderBy(col("doc_id"))
    }),

    "docs_score_drift" -> ((s, dir) => {
      // quality-score distribution drift between two snapshots (the
      // per-crawl scorer monitor, Analytics.scoreDrift): the parity
      // split stands in for consecutive crawls; TVD's per-bucket |p−q|
      // needs no ln and no smoothing, so the report is oracle-exact
      val scored = TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("quality_score"))
      Analytics.scoreDrift(
          scored.filter(col("doc_id") % 2 === 0),
          scored.filter(col("doc_id") % 2 === 1), "quality_score")
        .orderBy(col("bucket"))
    }),
    "docs_score_drift_by_source" -> ((s, dir) => {
      // the GROUPED monitor (Analytics.scoreDriftBy): per-language drift
      // census — a one-source regression pooled TVD dilutes to nothing
      // shows at full strength under its own language, and the vanished-
      // source path is exercised by PLANTING one: the "current crawl"
      // side drops zh entirely, so zh's reference mass reads as maximal
      // drift through the guarded zero-share divide
      val scored = TextAnalysis.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang"), col("quality_score"))
      Analytics.scoreDriftBy(
          scored.filter(col("doc_id") % 2 === 0),
          scored.filter(col("doc_id") % 2 === 1 && col("lang") =!= "zh"),
          "lang", "quality_score")
        .orderBy(col("lang"), col("bucket"))
    }),
    "docs_source_digest" -> ((s, dir) =>
      // order-independent per-source integrity digest: n_rows + the exact
      // decimal(38,0) sum of a 60-bit md5 content hash per row — the
      // sort-free snapshot-equality primitive for replication audits
      // (Analytics.contentDigest; the digest renders as a STRING so both
      // engines hash the identical decimal digits)
      Analytics.contentDigest(t(s, dir, "documents"), Seq("source"),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .select(col("source"), col("n_rows"),
          col("digest").cast("string").as("digest"))
        .orderBy(col("source"))),
    "src_format_census" -> ((s, dir) =>
      // SURVEY §2.2 "scans/sources beyond Kafka", wired end-to-end:
      // documents mirrored once into ORC / Avro / JSON-lines / CSV
      // (session temp dir, build-once memo; Avro through the bundled
      // FQCN source — FormatMatrix scaladoc), each read back through
      // its own Spark source with an EXPLICIT schema, and a format-invariant
      // census (count, Σ n_chars, distinct langs, id range, 60-bit md5
      // whole-row digest in exact decimal sums) emitted per format —
      // the oracle recomputes the census from parquet alone, so a
      // reader that drops/re-types/mangles anything fails that
      // format's row loudly (graft.sources.FormatMatrix scaladoc for
      // the per-reader 100 TB configuration rules)
      graft.sources.FormatMatrix.formatCensus(s, dir)
        .orderBy(col("format"))),
    "docs_source_cap" -> ((s, dir) =>
      // per-source contribution cap: at most 10 docs per source,
      // best-quality-first, doc-id tie-break — histogram threshold +
      // boundary-bucket rank, never a whole-source sort window
      TextAnalysis.sourceCap(t(s, dir, "documents"), "text", 10)
        .orderBy(col("doc_id"))),
    "docs_boilerplate" -> ((s, dir) =>
      // shared-prefix boilerplate census: per doc, how many same-language
      // docs open with its first 4 tokens (template headers/nav bars —
      // the signal quality scores can't see and pairwise near-dup misses
      // when bodies differ); exchange keys are the prefix's 128-bit
      // fingerprint, never the string (TextAnalysis.boilerplatePrefixes).
      // The raw corpus has no shared openings, so every 4th doc gets a
      // deterministic template header PLANTED (the text_pii_redact
      // augmentation rule: a detector exercised only on its negative
      // branch is vacuous) — flagged and unflagged docs both exist at
      // every SF, and the oracle replays the plant
      TextAnalysis.boilerplatePrefixes(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            when(col("doc_id") % 4 === 0,
              concat(lit("site nav home about "), col("text")))
              .otherwise(col("text")).as("text")),
          "doc_id", "text", "lang", prefixTokens = 4, minShare = 3)
        .orderBy(col("doc_id"))),
    "text_textrank" -> ((s, dir) => {
      // TextRank keyword centrality: 10 exact fixed-point PageRank rounds
      // over the word-adjacency graph (TextAnalysis.textRank) — which
      // words the corpus is ABOUT, by stationary centrality rather than
      // raw frequency; every arithmetic op is exact long math, so the
      // oracle replays the full trajectory round-for-round.
      //
      // Runs in an AQE-OFF child session (round 13): AQE re-optimizes
      // the remaining plan at every materialized exchange, and an
      // iterative query is ~1 sequential exchange PER ROUND over an
      // ever-deeper plan — measured ~0.35 s of pure driver-CPU replan
      // per round at sf0.1 (7.0 s → 3.8 s for the identical plan), the
      // data-independent fixed cost box pressure amplifies. AQE has
      // nothing to offer this loop: the round partitioning is explicitly
      // pinned and vocab-grain, and the corpus-scale setup is two
      // partial-aggregated exchanges whose zipfian token skew is
      // absorbed map-side, not a join AQE could re-plan. The child
      // session isolates the conf — the shared session's AQE stays on
      // for every other query; caches/Cleanup ride the shared context.
      val quiet = s.newSession()
      quiet.conf.set("spark.sql.adaptive.enabled", "false")
      Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
        .foreach(k => quiet.conf.set(k, s.conf.get(k)))
      TextAnalysis.textRank(t(quiet, dir, "documents"), "text")
        .orderBy(col("rank_e12").desc, col("w").asc)
    }),
    "text_cms_heavy" -> ((s, dir) => {
      // count-min sketch heavy hitters: the exact top-20 tokens with
      // their sketch estimates and overcounts — the sketch is fully
      // deterministic (md5 lane hash both engines compute natively), so
      // the ESTIMATES are the oracle surface, not a verdict about them.
      // TWO sketches ride along: the production-shaped (1024×4), which
      // never collides on this 31-word vocabulary (every overcount 0 —
      // the accuracy story), and a deliberately NARROW (16×4) one whose
      // collisions exercise the overcount arithmetic on both branches
      // (the vacuous-negative-branch rule: the collision pattern depends
      // only on the token strings, so both branches appear at EVERY SF)
      // ONE corpus tokenize + vocab-grain count feeds both sketch builds
      // AND the exact top-k (round 16 — the plan previously re-derived
      // the corpus tokenization five times: 2 token-grain sketch builds
      // + the exact subtree duplicated under its three join arms, the
      // DESIGN §8.1 twin-subtree rule); md5 now runs at vocab grain
      // (cmsBuildFromCounts scaladoc). Persist + Cleanup: multi-branch
      // consumer of a derived relation, the dedup_embedding_cosine rule.
      val d = t(s, dir, "documents")
      val wc = Cleanup.register(
        d.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt")).persist())
      val sk = TextAnalysis.cmsBuildFromCounts(wc)
      val skN = TextAnalysis.cmsBuildFromCounts(wc, depth = 4, width = 16)
      val exact = wc.select(col("w"), col("cnt").as("n_exact"))
        .orderBy(col("n_exact").desc, col("w").asc).limit(20)
      TextAnalysis.cmsEstimateWith(exact, "w", sk)
        .join(TextAnalysis.cmsEstimateWith(exact, "w", skN)
          .withColumnRenamed("n_cms", "n_cms16"), Seq("w"))
        .join(exact, Seq("w"))
        .select(col("w"), col("n_exact"), col("n_cms"),
          (col("n_cms") - col("n_exact")).as("overcount"),
          col("n_cms16"), (col("n_cms16") - col("n_exact")).as("overcount16"))
        .orderBy(col("n_exact").desc, col("w").asc)
    }),
    "text_pii_redact" -> ((s, dir) =>
      // PII scrub over documents AUGMENTED with synthetic addresses (the
      // raw corpus contains none — redaction over it would be a vacuous
      // no-op): append a deterministic per-doc email + phone, then redact
      // and count. Pure regexp projections, scan-speed.
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or +1-555-"), col("doc_id")).as("aug"))
        .select(col("doc_id"),
          TextAnalysis.piiEmailCount(col("aug")).as("n_emails"),
          TextAnalysis.piiPhoneCount(col("aug")).as("n_phones"),
          substring(TextAnalysis.redactPii(col("aug")), -30, 30).as("redacted_tail"))
        .orderBy(col("doc_id"))),
    "text_edit_distance" -> ((s, dir) =>
      // Levenshtein distance between each (English) document's prefix and
      // its normalized form — "how much did cleaning change the text", a
      // per-row O(len²) dynamic program fused into the scan: shuffle-free,
      // the shape in which edit-distance dedup verification runs at scale
      // (always against a bounded prefix, never unbounded documents).
      // English-only: DuckDB's levenshtein counts bytes, Java's counts
      // chars — identical on ASCII, divergent on CJK.
      t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id"),
          levenshtein(substring(col("text"), 1, 120),
            substring(TextAnalysis.normalize(col("text")), 1, 120)).as("edit_dist"))
        .orderBy(col("doc_id"))),
    "text_edit_neighbors" -> ((s, dir) =>
      // edit-distance similarity JOIN (symmetric-deletion candidates, no
      // all-pairs product) over the corpus' distinct word vocabulary ∪
      // source labels — the label set carries the near-identical tags
      // (src0/src1 substitutions, src1/src11 insertions) an alias-
      // reconciliation pass is after; the oracle is the quadratic exact
      // Levenshtein join over the same value set
      TextAnalysis.editNeighbors(
        t(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .union(t(s, dir, "documents").select(col("source").as("w"))),
        "w", maxEdit = 1)
        .orderBy(col("w1"), col("w2"))),
    "docs_gram_novelty" -> ((s, dir) =>
      // first-occurrence novelty attribution (hashGrams = the production
      // xxhash64 keying — counts are hash-invariant, so the string-gram
      // DuckDB oracle still applies); n_novel/n_grams is the dedup-aware
      // selection signal boilerplate-heavy docs fail
      TextAnalysis.gramNovelty(t(s, dir, "documents"), "doc_id", "text",
          n = 3, hashGrams = true)
        .orderBy(col("doc_id"))),
    "docs_novelty_incremental" -> ((s, dir) => {
      // the seen-gram seam driver-checked (noveltyBuild/gramNoveltyWith):
      // the artifact knows the even-id reference half's grams; the odd-id
      // batch's novelty counts only grams absent from the artifact AND
      // first-within-batch — "how much new content does this crawl add"
      val docs = t(s, dir, "documents")
      TextAnalysis.gramNoveltyWith(docs.filter(col("doc_id") % 2 === 1),
          TextAnalysis.noveltyBuild(docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", 3, hashGrams = true),
          "doc_id", "text", 3, hashGrams = true)
        .orderBy(col("doc_id"))
    }),

    // ---- event-time analytics ----
    "events_tumbling" -> ((s, dir) =>
      Events.tumbling(t(s, dir, "events"))
        .orderBy(col("window_start"), col("event_type"))),
    "events_sessions" -> ((s, dir) =>
      Events.sessions(t(s, dir, "events"))
        .orderBy(col("user_id"), col("session_start"))),
    "events_props_json" -> ((s, dir) =>
      Events.propsK(t(s, dir, "events")).orderBy(col("event_type"))),
    "events_running" -> ((s, dir) =>
      Events.runningTotals(t(s, dir, "events"))
        .orderBy(col("user_id"), col("seq"))),
    "events_funnel" -> ((s, dir) =>
      Events.sessionFunnel(t(s, dir, "events"))
        .orderBy(col("user_id"), col("session_start"))),
    "events_neighbors" -> ((s, dir) =>
      Events.neighborContext(t(s, dir, "events"))
        .orderBy(col("user_id"), col("event_id"))),
    "events_sliding_1h" -> ((s, dir) =>
      Events.slidingValueSum(t(s, dir, "events"))
        .orderBy(col("user_id"), col("event_id"))),
    "events_retention" -> ((s, dir) =>
      // day-cohort retention matrix: of users first active on day d, how
      // many return k days later (k ≤ 7)
      Events.cohortRetention(t(s, dir, "events"), maxDays = 7)
        .orderBy(col("cohort_day"), col("k"))),
    "events_anomaly" -> ((s, dir) =>
      // per-type value outliers (|z| ≥ 2.5) from exact integer moments —
      // see Events.anomalyZScores for why the moments are cents
      Events.anomalyZScores(t(s, dir, "events"), zThreshold = 2.5)
        .orderBy(col("event_id"))),
    "events_scd2" -> ((s, dir) =>
      // CDC compaction: the per-user event_type change log collapsed to
      // SCD2 validity intervals (half-open epoch-second bounds, -1 = the
      // still-current run) — see Events.scd2Compact
      Events.scd2Compact(t(s, dir, "events"))
        .orderBy(col("user_id"), col("seq"))),
    "events_attribution" -> ((s, dir) =>
      // first/last-touch attribution: purchases credited to the earliest/
      // latest view-or-click by the same user in a 1-hour lookback — one
      // RANGE-frame window, no conversion×touch join (see
      // Events.attribution for the struct-extremum tie contract)
      Events.attribution(t(s, dir, "events"), "purchase",
          Seq("view", "click"), lookbackSecs = 3600L)
        .orderBy(col("conv_id"))),
    "events_pattern_seq" -> ((s, dir) =>
      // MATCH_RECOGNIZE-style ordered-sequence detection: first
      // view → click → purchase chain per user (strictly increasing event
      // time, earliest-completion semantics) — see Events.earliestSequence
      // for why greedy stage minima equal full pattern-automaton results
      Events.earliestSequence(t(s, dir, "events"), Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))),

    // ---- relational analytics (operator categories absent from the
    //      reference, SURVEY §2.2, exposed via Catalyst built-ins) ----
    "q01_pricing_summary" -> ((s, dir) =>
      Analytics.pricingSummary(s, dir).orderBy(col("l_returnflag"), col("l_linestatus"))),
    "q03_shipping_priority" -> ((s, dir) => Analytics.shippingPriority(s, dir)),
    "q05_revenue_by_nation" -> ((s, dir) =>
      Analytics.revenueByNation(s, dir).orderBy(col("n_name"))),
    "q05_salted" -> ((s, dir) => {
      // q05 rebuilt on the skew-salting join: the lineitem⋈supplier
      // equi-join keyed (suppkey, salt∈[0,8)) so one hot supplier spreads
      // over 8 reducers. Result set is identical to the plain join —
      // shares q05's oracle SQL — the salting changes ONLY the shuffle
      // distribution, and the oracle proves it. shuffle_hash hint: at
      // test scale Catalyst would broadcast the (tiny) salted build side,
      // which hides the salted exchange salting exists to demonstrate —
      // in the real salting regime the build side is too big to broadcast
      // by definition.
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
        .hint("shuffle_hash")
      Analytics.saltedJoin(li, sup, "l_suppkey", "s_suppkey", salts = 8)
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),
    "q_window_rank" -> ((s, dir) =>
      Analytics.topOrdersPerPriority(s, dir, 5).orderBy(col("o_orderpriority"), col("rk"))),
    "q13_custdist" -> ((s, dir) => Analytics.customerOrderDistribution(s, dir)),
    "q_sortmerge_join" -> ((s, dir) => {
      // the large⋈large join strategy: explicit merge hint keeps Catalyst
      // from broadcasting the (testdata-small) orders side, exercising the
      // SortMergeJoin path every fact⋈fact join takes at 100 TB — both
      // sides shuffle ONCE on the key, sort within partitions, and stream
      // the merge without materializing either side. Plan shape pinned in
      // PlanRegressionSpec; results oracle-checked like any other query.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val ord = t(s, dir, "orders").hint("merge")
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("total_price"))
        .orderBy(col("o_orderpriority"))
    }),
    "q17_small_qty_revenue" -> ((s, dir) =>
      Analytics.smallQuantityRevenue(s, dir, Seq("Brand#2", "Brand#4"))),
    "q_set_except" -> ((s, dir) => Analytics.customerOnlyNations(s, dir)),
    "q_set_except_all" -> ((s, dir) => {
      // MULTISET difference (EXCEPT ALL): each supplier occurrence
      // cancels ONE customer occurrence per nation — max(m−n, 0) copies
      // survive, the cardinality-aware semantics DISTINCT set ops lose;
      // counted per key so the multiplicities are what the oracle hashes
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.exceptAll(su).groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"))
    }),
    "q_set_intersect_all" -> ((s, dir) => {
      // MULTISET intersection (INTERSECT ALL): min(m, n) copies per key
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersectAll(su).groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"))
    }),
    "q_union_all" -> ((s, dir) => {
      // explicit UNION ALL surface: one tagged account roster from two
      // tables, counted per (nation, role) — the router's dual (merge n
      // streams into one) as a relational query
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), lit("customer").as("role"))
      val su = t(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey"), lit("supplier").as("role"))
      c.unionAll(su)
        .groupBy(col("nationkey"), col("role"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"), col("role"))
    }),
    "q_window_ntile" -> ((s, dir) => {
      // ranking-distribution window functions: quartile (ntile) and
      // percent_rank of each customer's orders by price. percent_rank =
      // (rank-1)/(n-1) is a ratio of integers — engine-exact, hash-safe
      // (same rule as tfidf). The partition key is the DATA-SCALE
      // customer key: a handful-valued key (the earlier per-priority
      // form) funnels corpus/|keys| rows through one task at 100 TB —
      // the WindowKeySweepSpec rule, caught by the round-8 sweep.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"))
        .filter(col("quartile") === 1)
        .orderBy(col("o_custkey"), col("pct_rank"), col("o_orderkey"))
    }),
    "q_anti_join" -> ((s, dir) =>
      Analytics.customersWithoutOrders(s, dir).orderBy(col("c_mktsegment"))),
    "q_rollup" -> ((s, dir) =>
      Analytics.ordersRollup(s, dir).orderBy(col("status"), col("priority"))),
    "q_distinct_counts" -> ((s, dir) => Analytics.distinctCounts(s, dir)),
    "q_grouping_sets" -> ((s, dir) => { // SQL-entry surface + explicit sets
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
              |coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
              |FROM orders_gs
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY status, priority""".stripMargin)
    }),
    "events_multigrain" -> ((s, dir) => {
      // hour/day/week monitoring rollup in ONE event-log pass: GROUPING
      // SETS plans as a single scan + Expand(×3) + one aggregation — not
      // three scans or a union; value summed as integer cents (a sliding
      // double sum is engine-order-dependent, cents are exact)
      t(s, dir, "events").createOrReplaceTempView("events_mg")
      s.sql("""SELECT event_type,
              |  CASE WHEN grouping(h) = 0 THEN 'hour'
              |       WHEN grouping(d) = 0 THEN 'day' ELSE 'week' END AS grain,
              |  unix_timestamp(coalesce(h, d, w)) AS bucket,
              |  count(*) AS n, sum(cents) AS cents
              |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
              |        date_trunc('HOUR', ts) AS h, date_trunc('DAY', ts) AS d,
              |        date_trunc('WEEK', ts) AS w
              |      FROM events_mg)
              |GROUP BY GROUPING SETS ((event_type, h), (event_type, d), (event_type, w))
              |ORDER BY event_type, grain, bucket""".stripMargin)
    }),
    "q_set_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").as("nationkey"))
      val sp = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
        .select(col("s_nationkey").as("nationkey"))
      c.intersect(sp).orderBy(col("nationkey"))
    }),
    "q_exists_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_ex")
      t(s, dir, "orders").createOrReplaceTempView("orders_ex")
      s.sql("""SELECT c_mktsegment, count(*) AS n_customers FROM customer_ex c
              |WHERE EXISTS (SELECT 1 FROM orders_ex o
              |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),
    "q_approx_distinct" -> ((s, dir) =>
      // HLL++, promoted to a FULL hash oracle via the within-documented-
      // bound verdict (the forced-outcome pattern): the sketch value
      // itself is engine-specific, but the verdict — |approx − exact| ≤
      // ⌈4·rsd·exact⌉ — is a deterministic boolean both engines state
      // identically. The margin is deliberately 4σ, NOT the rsd itself:
      // rsd 0.05 is HLL++'s one-standard-deviation ESTIMATE, not a hard
      // bound (P(|err| > rsd·exact) ≈ 0.3 for a ~Gaussian error), so a
      // 1σ verdict would be a data-dependent coincidence that a testdata
      // regeneration could flip. At 4σ the per-group failure probability
      // is ~6e-5, and HLL++ is hash-seeded and deterministic for a fixed
      // input, so for any committed corpus the verdict is stable AND the
      // margin survives regeneration. The exact counts ride along so the
      // oracle checks real values, not just the verdict; the exact-vs-
      // sketch scale trade-off lives in q_distinct_counts' scaladoc.
      t(s, dir, "lineitem").agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_suppkey")).as("exact_supps"),
          approx_count_distinct(col("l_partkey")).as("__ap"),
          approx_count_distinct(col("l_suppkey")).as("__as"))
        .select(col("exact_parts"), col("exact_supps"),
          (abs(col("__ap") - col("exact_parts")) <=
            ceil(col("exact_parts") * lit(0.20))).as("parts_within_bound"),
          (abs(col("__as") - col("exact_supps")) <=
            ceil(col("exact_supps") * lit(0.20))).as("supps_within_bound"))),
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(pmod(col("user_id"), lit(10)).as("user_bucket"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_bucket"))),
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("qty"))
        .orderBy(col("rf"), col("ls"))),
    "q_percentiles" -> ((s, dir) => {
      // EXACT grouped percentiles WITHOUT the built-in's all-values-per-
      // group aggregation buffer (round-11 verdict: the exact aggregate
      // was the repo's remaining structural scale problem — a 100 TB
      // group OOMs its buffer). Analytics.percentileExact locates each
      // target rank through a fixed-geometry integer-cent bucket census
      // (the q_percentiles_approx lattice: [0, 8e7) cents / 1000 bins)
      // and reads the exact value off a per-value census of the few
      // answering buckets — bit-identical to percentile() (spec-pinned
      // with ===), same DuckDB quantile_cont oracle, every window over
      // a census. min/max stay the plain fixed-width aggregate.
      val pct = Analytics.percentileExact(t(s, dir, "orders"),
          "o_orderpriority", "o_totalprice",
          Seq(0.5, 0.9), lo = 0L, hi = 80000000L, bins = 1000, scale = 100L)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(min(when(col("q") === 0.5, col("pct"))), 2).as("p50"),
          round(min(when(col("q") === 0.9, col("pct"))), 2).as("p90"))
      val mm = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(min(col("o_totalprice")), 2).as("p_min"),
          round(max(col("o_totalprice")), 2).as("p_max"))
      pct.join(broadcast(mm), "o_orderpriority")
        .orderBy(col("o_orderpriority"))
    }),
    "q_percentiles_approx" -> ((s, dir) => {
      // the 100 TB path for q_percentiles: exact percentile() buffers
      // every group value; approx_percentile is a bounded-memory
      // mergeable sketch. The verdict bound is ALSO bounded-memory
      // since round 12 — the round-11 form computed FOUR exact
      // percentile() legs (at q ∓ 0.003) to state the rank-error
      // contract, so the self-described scale path carried the very
      // all-values-per-group buffer it exists to avoid (round-11
      // verdict). The bound now reads off a grouped equi-width
      // histogram census over integer cents (histBuild's fixed-geometry
      // argument, inlined with the group key): exact integer
      // construction, ≤ |priorities|·1000 census rows at any corpus
      // size, cumulated by a window over the census (bounded grain).
      // Soundness: accuracy-1000 returns an element whose exact rank is
      // within N/1000 of target (below ~500 rows/group it stores every
      // value — exact), so with the ∓0.005 margin (≥ 2 ranks of slack
      // for every N this corpus produces: N ≥ 300/group at sf0.001,
      // growing with SF) its rank is ≥ r_lo = ⌈N(q−0.005)⌉ and
      // ≤ r_hi = ⌈N(q+0.005)⌉; a value of rank ≥ r_lo is ≥ the
      // inclusive lower edge of the bin answering r_lo, and of rank
      // ≤ r_hi is < the exclusive upper edge of the bin answering r_hi.
      // Both engines state the boolean identically (oracle: constant
      // true over the exactly-recomputed group keys).
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.expressions.Window
      val loC = 0L; val hiC = 80000000L; val bins = 1000
      val width = (hiC - loC) / bins // 80000 cents; o_totalprice < $500k
      val hist = t(s, dir, "orders")
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("__c"))
        .select(col("o_orderpriority"),
          (greatest(lit(loC), least(col("__c"), lit(hiC - 1))) - lit(loC)).as("__v"))
        .selectExpr("o_orderpriority", s"__v DIV ${width}L AS bin")
        .groupBy(col("o_orderpriority"), col("bin"))
        .agg(count(lit(1)).as("n"))
      val cum = hist.withColumn("cum", sum(col("n")).over(
        Window.partitionBy(col("o_orderpriority")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = hist.groupBy(col("o_orderpriority")).agg(sum(col("n")).as("__N"))
      def rnk(pm: Int) = expr(s"(__N * $pm + 999) DIV 1000")
      val bounds = cum.join(broadcast(tot), "o_orderpriority")
        .withColumn("__rlo50", rnk(495)).withColumn("__rhi50", rnk(505))
        .withColumn("__rlo90", rnk(895)).withColumn("__rhi90", rnk(905))
        .groupBy(col("o_orderpriority"))
        .agg(
          min(when(col("cum") >= col("__rlo50"), col("bin"))).as("__blo50"),
          min(when(col("cum") >= col("__rhi50"), col("bin"))).as("__bhi50"),
          min(when(col("cum") >= col("__rlo90"), col("bin"))).as("__blo90"),
          min(when(col("cum") >= col("__rhi90"), col("bin"))).as("__bhi90"))
      def loEdge(b: Column) = lit(loC) + b * lit(width) // inclusive
      def hiEdge(b: Column) = lit(loC) + (b + lit(1)) * lit(width) // exclusive
      def cents(c: Column) =
        when(round(c * 100).cast("long") < lit(hiC), round(c * 100).cast("long"))
          .otherwise(raise_error(lit("q_percentiles_approx: o_totalprice " +
            s"exceeded the documented lattice ceiling (hiC=$hiC cents) — " +
            "the census range no longer covers the corpus; widen hiC")))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("approx_percentile(o_totalprice, 0.5, 1000)").as("__a50"),
          expr("approx_percentile(o_totalprice, 0.9, 1000)").as("__a90"))
        .join(broadcast(bounds), "o_orderpriority")
        .select(col("o_orderpriority"),
          // ceiling assert (round-12 advice): an approx value past the
          // clamped lattice would flip the verdict false — a hash
          // mismatch whose real cause is the corpus outgrowing the
          // documented $800k bound, not a sketch failure. Name it.
          (cents(col("__a50")) >= loEdge(col("__blo50")) &&
            cents(col("__a50")) < hiEdge(col("__bhi50")))
            .as("p50_in_bound"),
          (cents(col("__a90")) >= loEdge(col("__blo90")) &&
            cents(col("__a90")) < hiEdge(col("__bhi90")))
            .as("p90_in_bound"))
        .orderBy(col("o_orderpriority"))
    }),
    "q_asof_join" -> ((s, dir) => {
      // for each event, the user's latest purchase value at or before it
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
      Analytics.asOfJoin(ev, purchases, "user_id", "p_user", "ts", "p_ts", "p_value")
        .select(col("event_id"), round(col("asof_val"), 2).as("last_purchase_value"))
        .orderBy(col("event_id"))
    }),
    "q_range_join" -> ((s, dir) => {
      // error events within the hour preceding each purchase, per user
      val ev = t(s, dir, "events")
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("probe_id"), col("user_id"), col("ts").as("p_ts"))
      val hits = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("hit_id"), col("user_id").as("h_user"), col("ts").as("h_ts"))
      Analytics.bandedRangeJoin(probes, hits, "user_id", "h_user", "p_ts", "h_ts", 3600L)
        .select(col("probe_id"), col("hit_id"), col("user_id"))
        .orderBy(col("probe_id"), col("hit_id"))
    }),

    "q04_priority_late" -> ((s, dir) => {
      // EXISTS-against-the-fact-table as a LEFT SEMI join with a
      // non-equi conjunct: orders with at least one lineitem shipped >90
      // days after the order date, counted per priority. The semi join
      // keeps the orders side deduplicated without a distinct — one
      // shuffle on the order key (or broadcast of orders at small SF).
      val late = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      t(s, dir, "orders")
        .join(late,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "leftsemi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),
    "q07_volume_shipping" -> ((s, dir) => {
      // 5-way snowflake join with the SAME dimension (nation) joined twice
      // under different roles — supplier's nation vs customer's nation —
      // cross-border revenue by year. Both nation sides broadcast; the
      // fact chain shuffles only for the final aggregation.
      // revenue carried as integer CENTS: with 4k+ output groups one of
      // them will sit on a .xx5 rounding boundary of an order-dependent
      // double sum (observed at sf0.01) — the per-row product is
      // bit-identical across engines, so round-to-cents per row then an
      // exact integer sum is hash-stable at any group count
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_shipdate"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("volume_cents"))
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation")))
      li.join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("snk"))
        .join(n2, col("c_nationkey") === col("cnk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
        .agg(sum(col("volume_cents")).as("revenue_cents"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),
    "q10_returned_items" -> ((s, dir) => {
      // top-20 revenue lost to returns per customer: 4-way join filtered
      // on the fact side (returnflag pushed to the lineitem scan), ordered
      // top-k via TakeOrderedAndProject — never a global sort.
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("lost"))
      li.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("lost")), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    "q14_promo_revenue" -> ((s, dir) => {
      // conditional-aggregate ratio (promo share of revenue): one scan,
      // one broadcast dim join, a single-row answer — the shape where the
      // ONLY cost at 100 TB is the fact scan, so the dim filter must not
      // force a shuffle (it doesn't: CASE WHEN inside the agg).
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      li.join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0.0))), 2)
            .as("promo_revenue"),
          round(sum(col("rev")), 2).as("total_revenue"),
          round(lit(100.0) * sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0.0)))
            / sum(col("rev")), 4).as("promo_pct"))
    }),
    "q18_large_volume" -> ((s, dir) => {
      // HAVING over a fact-side pre-aggregation: collapse lineitem to
      // per-order quantity FIRST (map-side partial sums), filter the tiny
      // survivor set, THEN join order/customer metadata — at 100 TB the
      // join input is the filtered aggregate, not the raw fact table.
      // Quantities are integral doubles, so the bigint cast is exact.
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
        .filter(col("total_qty") > 300)
      big.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("total_qty"))
        .orderBy(col("o_orderkey"))
    }),
    "q19_or_of_ands" -> ((s, dir) => {
      // disjunction-of-conjunctions predicate spanning both join sides
      // (brand/size from part, quantity from lineitem). Catalyst can't
      // push the mixed OR below the join, so the part-side implication
      // `p_brand IN (...)` is stated explicitly — it prunes the build side
      // at the scan and is the difference between broadcasting 3 brands
      // and broadcasting the whole part table at 100 TB.
      val part = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#5"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) && col("l_quantity") <= 25) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) && col("l_quantity") >= 10) ||
          (col("p_brand") === "Brand#5" && col("l_quantity").between(5, 30)))
        .agg(round(sum(col("rev")), 2).as("revenue"), count(lit(1)).as("n_items"))
    }),
    "q22_prospects" -> ((s, dir) => {
      // scalar subquery (global threshold) + NOT EXISTS anti join, via the
      // SQL entry point: customers above the average positive balance with
      // no urgent order, rolled up per nation. The threshold is
      // round(avg, 2) — a 2-dp threshold makes the cross-engine compare
      // deterministic (measured margin to the nearest balance ≥ 0.07 at
      // every SF, vs ~1e-12 summation-order noise on the raw avg).
      t(s, dir, "customer").createOrReplaceTempView("customer_q22")
      t(s, dir, "orders").createOrReplaceTempView("orders_q22")
      s.sql("""SELECT c_nationkey, count(*) AS numcust,
              |round(sum(c_acctbal), 2) AS totacctbal
              |FROM customer_q22 c
              |WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2)
              |                   FROM customer_q22 WHERE c_acctbal > 0)
              |AND NOT EXISTS (SELECT 1 FROM orders_q22 o
              |                WHERE o.o_custkey = c.c_custkey
              |                AND o.o_orderpriority = '1-URGENT')
              |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
    }),
    "q_corr_scalar_subquery" -> ((s, dir) => {
      // correlated scalar subquery — Catalyst decorrelates the per-brand
      // min into an aggregate + join (same rewrite DuckDB applies), so the
      // declared O(n²) subquery executes as one shuffle on p_brand.
      t(s, dir, "part").createOrReplaceTempView("part_cs")
      s.sql("""SELECT p_partkey, p_brand, p_retailprice FROM part_cs p
              |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
              |                       FROM part_cs p2 WHERE p2.p_brand = p.p_brand)
              |ORDER BY p_brand, p_partkey""".stripMargin)
    }),
    "q_full_outer_join" -> ((s, dir) => {
      // FULL OUTER join of two overlapping top-k document sets (longest-50
      // vs a deterministic md5 bottom-50 sample): genuine unmatched rows
      // on BOTH sides, null-flag projection as membership indicators.
      // md5-ordering is the content-keyed sampling rule again — stable
      // across re-runs and engines.
      val docs = t(s, dir, "documents")
      val longest = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(50)
        .select(col("doc_id").as("id_long"))
      val sample = docs.orderBy(md5(col("text")), col("doc_id")).limit(50)
        .select(col("doc_id").as("id_samp"))
      longest.join(sample, col("id_long") === col("id_samp"), "full_outer")
        .select(coalesce(col("id_long"), col("id_samp")).as("doc_id"),
          col("id_long").isNotNull.cast("int").as("in_longest"),
          col("id_samp").isNotNull.cast("int").as("in_sample"))
        .orderBy(col("doc_id"))
    }),
    "q_unpivot" -> ((s, dir) =>
      // wide→long unpivot via stack(): per-language corpus stats as
      // (lang, metric, value) rows — the inverse of q_pivot. All-bigint
      // values so the compare is exact.
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
        .select(col("lang"),
          expr("stack(3, 'n_docs', n_docs, 'sum_chars', sum_chars, 'n_sources', n_sources) AS (metric, value)"))
        .orderBy(col("lang"), col("metric"))),

    "q06_forecast_revenue" -> ((s, dir) =>
      // the pushdown showcase: a single fact scan with EVERY predicate in
      // PushedFilters (shipdate range, discount band, quantity cap) and a
      // 3-column ReadSchema, partial+final agg to one row — at 100 TB the
      // entire query cost is the pruned scan. Revenue as exact integer
      // cents (the q07 rule: per-row product is bit-identical across
      // engines; round to cents per row, then an exact integer sum).
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(
          sum(round(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
            .as("revenue_cents"),
          count(lit(1)).as("n_items"))),
    "q08_market_share" -> ((s, dir) => {
      // national market share: NATION_3's slice of STANDARD-part volume
      // sold to ASIA-region customers, per year. The region constraint
      // rides the nation⋈region dim join (broadcast, prunes the customer
      // side at the join); numerator and denominator are both exact cent
      // sums, so the share is one double division of exact integers —
      // hash-stable without any tolerance.
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
          year(col("l_shipdate")).as("l_year"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("volume_cents"))
      val pt = broadcast(t(s, dir, "part")
        .filter(col("p_type") === "STANDARD").select(col("p_partkey")))
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val asiaNations = broadcast(t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA").select(col("n_nationkey").as("cnk")))
      li.join(pt, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("snk"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(asiaNations, col("c_nationkey") === col("cnk"))
        .groupBy(col("l_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", col("volume_cents"))
            .otherwise(lit(0L))).as("nation_cents"),
          sum(col("volume_cents")).as("total_cents"))
        .select(col("l_year"), col("nation_cents"), col("total_cents"),
          round(col("nation_cents").cast("double") / col("total_cents").cast("double"), 6)
            .as("mkt_share"))
        .orderBy(col("l_year"))
    }),
    "q09_profit_by_nation" -> ((s, dir) => {
      // product-line profit by (supplier nation, year). The testdata has
      // no partsupp table, so supply cost is proxied as 10% of the part's
      // retail price per unit — the plan shape (substring-filtered part
      // dim broadcast into the fact scan, profit formed per-row, grouped
      // on dim attributes) is exactly TPC-H Q9's. Profit in exact cents.
      val pt = broadcast(t(s, dir, "part")
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice")))
      val profit = round(
        (col("l_extendedprice") * (lit(1) - col("l_discount"))
          - col("p_retailprice") * col("l_quantity") * 0.1) * 100).cast("long")
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"), col("l_quantity"))
        .join(pt, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("l_shipdate")).as("o_year"))
        .agg(sum(profit).as("profit_cents"), count(lit(1)).as("n_items"))
        .orderBy(col("n_name"), col("o_year").desc)
    }),
    "q15_top_supplier" -> ((s, dir) => {
      // view-then-max: per-supplier revenue over one quarter, returning
      // the supplier(s) achieving the global max (scalar subquery over the
      // aggregate). Exact cents make "= max" safe — the double form of
      // this query is famously nondeterministic across engines.
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q15")
      t(s, dir, "supplier").createOrReplaceTempView("supplier_q15")
      s.sql("""WITH rev AS (
              |  SELECT l_suppkey AS supplier_no,
              |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
              |  FROM lineitem_q15
              |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              |    AND l_shipdate < TIMESTAMP '1996-04-01'
              |  GROUP BY l_suppkey)
              |SELECT s_suppkey, s_name, total_cents
              |FROM supplier_q15 JOIN rev ON s_suppkey = supplier_no
              |WHERE total_cents = (SELECT max(total_cents) FROM rev)
              |ORDER BY s_suppkey""".stripMargin)
    }),
    "q16_part_supplier_variety" -> ((s, dir) => {
      // supplier variety per (brand, size): COUNT(DISTINCT) over a
      // dim-filtered fact join — Catalyst expands the distinct into a
      // two-level aggregate (partial distinct per partition, then final),
      // so the shuffle carries (brand, size, suppkey) triples, never raw
      // fact rows. partsupp doesn't exist in the testdata; lineitem IS the
      // part↔supplier association.
      val pt = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    }),
    "q21_waiting_supplier" -> ((s, dir) => {
      // suppliers who were the SOLE late shipper in a multi-supplier
      // order. TPC-H Q21's double EXISTS/NOT EXISTS is hand-decorrelated:
      // one (order, supplier)-grain aggregate with a per-row lateness
      // flag, then the per-order rollup as a WINDOW over that aggregate —
      // not a second aggregate joined back, which (plan-audited) recomputes
      // the whole lineitem⋈orders subtree per branch. The window form
      // touches the fact join once; the window itself runs on the
      // order×supplier-grain relation, orders of magnitude smaller than
      // lineitem. Lateness = shipped >60 days after the order date (the
      // testdata has no commit/receipt dates).
      import org.apache.spark.sql.expressions.Window
      val flagged = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          lit(1)).otherwise(lit(0))).as("late"))
      val w = Window.partitionBy(col("l_orderkey"))
      flagged
        .withColumn("n_supps", count(lit(1)).over(w))
        .withColumn("n_late", sum(col("late")).over(w))
        .filter(col("late") === 1 && col("n_supps") >= 2 && col("n_late") === 1)
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    "q02_min_cost_supplier" -> ((s, dir) => {
      // TPC-H Q2's groupwise-argmin shape, adapted (no partsupp table —
      // lineitem is the part↔supplier association; "supply cost" = the
      // cheapest sale, exact cents). The correlated MIN subquery is
      // decorrelated as a window MIN over the (part, supplier)-grain
      // aggregate — one pass, no agg-joined-back recompute of the fact
      // subtree. Ties (several suppliers at the min) are all returned,
      // exactly like Q2. Both dims broadcast; the window runs on the
      // already-aggregated relation, |parts ∩ filter| × |EU suppliers|
      // rows at most — tiny next to lineitem at any scale.
      import org.apache.spark.sql.expressions.Window
      val cost = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("cost_cents"))
      val eu = broadcast(t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name")))
      val pt = broadcast(t(s, dir, "part")
        .filter(col("p_size") <= 15 && col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_brand")))
      cost.join(eu, col("l_suppkey") === col("s_suppkey"))
        .join(pt, col("l_partkey") === col("p_partkey"))
        .withColumn("best_cents",
          min(col("cost_cents")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("cost_cents") === col("best_cents"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"), col("n_name"),
          col("cost_cents"))
        .orderBy(col("cost_cents"), col("p_partkey"), col("s_name"))
    }),
    "q11_important_parts" -> ((s, dir) => {
      // TPC-H Q11's HAVING-vs-global-scalar shape: per-part value among
      // one region's suppliers, keeping parts above 1.25× the mean part
      // value. The threshold is self-normalizing (value·nparts·4 >
      // 5·total, all BIGINT — no doubles, no SF-dependent constant like
      // Q11's 0.0001/SF). The global scalar derives from the SAME
      // aggregate subtree, so the per-part exchange is planned once and
      // consumed twice (ReuseExchange); the corpus-wide rollup to one row
      // is O(nparts), not a second fact scan.
      val asia = broadcast(t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey")))
      val value = t(s, dir, "lineitem")
        .join(asia, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("value_cents"))
      val tot = value.agg(sum(col("value_cents")).as("total_cents"),
        count(lit(1)).as("nparts"))
      value.crossJoin(broadcast(tot))
        .filter(col("value_cents") * col("nparts") * 4 > col("total_cents") * 5)
        .select(col("l_partkey").as("p_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("p_partkey"))
    }),
    "q12_delay_priority" -> ((s, dir) => {
      // TPC-H Q12's conditional-count-by-class shape, adapted (no
      // l_shipmode in the testdata — the class is the order→ship delay
      // bucket). Fact⋈fact equi-join on the order key with the year
      // filter pushed into the lineitem scan BEFORE the join, so the
      // exchange carries one year, not seven. The priority split is two
      // conditional sums in one aggregate — one pass, no pivot.
      val delay = datediff(col("l_shipdate"), col("o_orderdate"))
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("delay_bucket",
          when(delay < 30, "1_fast").when(delay < 60, "2_medium")
            .otherwise("3_slow"))
        .groupBy(col("delay_bucket"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("delay_bucket"))
    }),
    "q20_excess_share" -> ((s, dir) => {
      // TPC-H Q20's nested-agg-threshold + semi-join-chain shape:
      // suppliers holding >12.5% of any red part's total shipped quantity,
      // restricted to one region. The (part, supplier)-grain aggregate
      // feeds BOTH the share probe and the per-part total; the two
      // consumers' pruned projections canonicalize differently, so
      // neither ReuseExchange nor AQE stage reuse dedupes them (verified
      // — same finding as text_tfidf) and lineitem would be scanned
      // twice. Materialize it ONCE with a lazy localCheckpoint (drained
      // by the harness via Cleanup); at 100 TB that per-(part, supplier)
      // relation is ~|parts|·avg-suppliers rows — tiny next to the fact.
      // Quantities are integral doubles → BIGINT; share test is
      // qty·8 > total, integer-exact. The supplier roster joins the
      // excess set as LEFT SEMI — no duplicate-row blowup, no distinct
      // needed on the probe side.
      val ps = Cleanup.register(t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).cast("long").as("qty"))
        .localCheckpoint(false))
      val tot = ps.groupBy(col("l_partkey")).agg(sum(col("qty")).as("total_qty"))
      // round 15: red is a ~25%-selectivity filter of a table that GROWS
      // with the corpus — broadcast-pinning it (round-9 form) ships an
      // unbounded relation to every executor at 100 TB; merge-pin instead
      // (the mechanical CorpusJoinHintSpec rule)
      val red = t(s, dir, "part")
        .filter(col("p_name").contains("red")).select(col("p_partkey"))
      val excess = ps.join(tot.hint("merge"), "l_partkey")
        .join(red.hint("merge"), col("l_partkey") === col("p_partkey"))
        .filter(col("qty") * 8 > col("total_qty"))
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    }),
    "docs_global_rank" -> ((s, dir) =>
      // scalable GLOBAL ranking — two-phase, no single-partition corpus
      // window (rationale in Analytics.globalRank's scaladoc); identical
      // to the oracle's one-window form because (n_chars, doc_id) is a
      // total order
      Analytics.globalRank(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars", "doc_id")
        .orderBy(col("doc_id"))),
    "docs_qnorm_length" -> ((s, dir) =>
      // quantile normalization across sources: each doc's within-source
      // midrank maps onto the POOLED n_chars distribution — the
      // model-free cross-source score calibration (one threshold for
      // many crawls); exact integer ranks + a pooled-rank lookup, no new
      // float arithmetic anywhere (Analytics.quantileNormalize)
      Analytics.quantileNormalize(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          "source", "doc_id", "n_chars")
        .orderBy(col("doc_id"))),
    "docs_len_hist_quantiles" -> ((s, dir) => {
      // the mergeable histogram quantile sketch end-to-end: a fixed
      // [0, 512)/64-bin length census (≤64 counter rows at any corpus
      // size, map-side-collapsed before the one shuffle) answering the
      // p50/p90/p99 ranks with one-bin-width error BY CONSTRUCTION —
      // exact integers everywhere, so the sketch AND the quantile reads
      // hash-oracle directly (Analytics.histBuild/histQuantiles)
      val sk = Analytics.histBuild(t(s, dir, "documents"), "n_chars",
        lo = 0L, hi = 512L, bins = 64)
      Analytics.histQuantiles(sk, Seq(500, 900, 990))
        .orderBy(col("q_pm"))
    }),
    "events_ewma" -> ((s, dir) =>
      // per-user event-time EWMA with dyadic α = 1/4: the decay multiply
      // is exact IEEE and the fold order is pinned to the (ts, event_id)
      // total order, so every intermediate double is bit-identical across
      // engines — the sequential-recurrence counterpart of the
      // order-free integer-cent monitors (Events.ewmaByUser; streaming
      // twin StatefulOps.streamingEwma, parity spec-pinned)
      Events.ewmaByUser(t(s, dir, "events"))
        .orderBy(col("user_id"))),
    "events_ohlc" -> ((s, dir) =>
      // 15-min OHLC bars per event type — tie-proof argmin/argmax over a
      // unique order key, one hash aggregate (Events.ohlcBars scaladoc)
      Events.ohlcBars(t(s, dir, "events"))
        .orderBy(col("event_type"), col("w_start"))),
    "docs_mix_interleave" -> ((s, dir) =>
      // deterministic 3:2:1-style corpus-mixing schedule (en:fr:rest) —
      // weighted round-robin as integer virtual time + scalable global
      // rank (TextAnalysis.mixInterleave scaladoc)
      TextAnalysis.mixInterleave(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 3, "fr" -> 2), defaultWeight = 1)
        .orderBy(col("doc_id"))),
    "docs_mix_allocate" -> ((s, dir) =>
      // closed-form token-budget waterfilling: 1.45 corpus epochs at
      // uniform per-source shares (alpha = 0), nothing repeated past 1.5
      // epochs — small sources hit the cap, the rest share one λ
      // (TextAnalysis.mixAllocate scaladoc); the corpus-scale work is a
      // single token census, the waterfill runs at source grain
      TextAnalysis.mixAllocate(t(s, dir, "documents"), "source", "text",
          budgetEpochs = 1.45, alpha = 0.0, maxEpochs = 1.5)
        .orderBy(col("source"))),
    "docs_budget_select" -> ((s, dir) =>
      // greedy char-budget curation cut: best-quality-first prefix whose
      // cumulative cost fits 50k chars — prefix sum is the two-phase
      // globalCumsum, never a single-partition corpus window
      // (TextAnalysis.budgetSelect scaladoc)
      TextAnalysis.budgetSelect(t(s, dir, "documents"), "text", "doc_id",
          budget = 50000L)
        .orderBy(col("doc_id"))),
    "docs_lm_score" -> ((s, dir) =>
      // corpus-trained bigram-LM scoring (the CCNet-style LM quality
      // filter as a relational query) — exact-integer counts, nano-unit
      // probabilities, vocab-sized model joined not broadcast
      // (TextAnalysis.lmScore scaladoc)
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "events_transitions" -> ((s, dir) =>
      // first-order Markov next-event matrix: per-user lag window
      // (key-local, parallel), ppm probabilities by integer division —
      // no doubles anywhere (Events.transitionMatrix scaladoc)
      Events.transitionMatrix(t(s, dir, "events"))
        .orderBy(col("prev_type"), col("event_type"))),
    "text_postings" -> ((s, dir) =>
      // inverted-index build for the 20 highest-df terms — posting lists
      // as sorted doc-id strings; one term-doc relation feeds df census
      // and assembly (TextAnalysis.postings scaladoc has the segment-
      // sharding production form)
      TextAnalysis.postings(t(s, dir, "documents"), "doc_id", "text", 20)
        .orderBy(col("term"))),
    "text_postings_segments" -> ((s, dir) =>
      // the production posting form: assembly key (term, doc_id div 100)
      // bounds every row/agg-buffer at segSize ids even for a hot term;
      // segSize 100 exercises multiple segments per term at every SF
      // (TextAnalysis.postingsSegments scaladoc)
      TextAnalysis.postingsSegments(t(s, dir, "documents"), "doc_id", "text",
          20, segSize = 100L)
        .orderBy(col("term"), col("seg"))),
    "docs_quality_calibrated" -> ((s, dir) =>
      // per-language percent-rank calibration — one threshold transfers
      // across languages; exact ppm integers
      // (TextAnalysis.calibrateQuality scaladoc)
      TextAnalysis.calibrateQuality(t(s, dir, "documents"), "text", "lang")
        .orderBy(col("doc_id"))),
    "docs_calibrate_apply" -> ((s, dir) => {
      // the train/apply split: build the calibration CDF model on the
      // even-id half, rank the odd-id half against it — new data scored
      // against the TRAINED distribution, not its own (the model is the
      // build-once artifact; the apply is a broadcast join that runs
      // unchanged on a stream)
      val d = t(s, dir, "documents")
      val model = TextAnalysis.qualityCalibrationBuild(
        d.filter(col("doc_id") % 2 === 0), "text", "lang")
      TextAnalysis.calibrateQualityWith(
          d.filter(col("doc_id") % 2 === 1), model, "text", "lang")
        .orderBy(col("doc_id"))
    }),
    "events_session_paths" -> ((s, dir) =>
      // top-25 within-session event-type sequences — collect is pinned
      // by an array_sort over (ts, event_id) structs, so the path string
      // is deterministic on any engine (Events.sessionPaths scaladoc)
      Events.sessionPaths(t(s, dir, "events"))),
    "docs_snapshot_diff" -> ((s, dir) => {
      // incremental-rebuild diff between two corpus versions (old drops
      // doc_id≡3 mod 19; new drops ≡5 mod 23 and edits ≡2 mod 17) —
      // sides pruned to (id, fingerprint) BEFORE the full-outer join
      // (Analytics.snapshotDiff scaladoc)
      val docs = t(s, dir, "documents")
      val oldS = docs.filter(pmod(col("doc_id"), lit(19L)) =!= 3)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val newS = docs.filter(pmod(col("doc_id"), lit(23L)) =!= 5)
        .select(col("doc_id"), TextAnalysis.fingerprint(
          when(pmod(col("doc_id"), lit(17L)) === 2,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("fp"))
      Analytics.snapshotDiff(oldS, newS, "doc_id", "fp")
        .orderBy(col("doc_id"))
    }),
    "orders_profile" -> ((s, dir) =>
      // single-pass data-validation profile: per-column null/distinct/
      // numeric-range stats from ONE scan (Expand, plan-pinned)
      Analytics.profileTable(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
        .orderBy(col("col_name"))),
    "docs_incremental_curation" -> ((s, dir) => {
      // the incremental-rebuild pattern end-to-end: diff two corpus
      // versions on (id, fingerprint), then run curation (quality score +
      // keep cut) ONLY on the added/changed delta — the unchanged bulk of
      // a 100 TB corpus is never rescanned past the fingerprint project;
      // removed docs surface as retractions (null score, keep_flag 0)
      val docs = t(s, dir, "documents")
      val oldS = docs.filter(pmod(col("doc_id"), lit(19L)) =!= 3)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val newDocs = docs.filter(pmod(col("doc_id"), lit(23L)) =!= 5)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(17L)) === 2,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
      val newS = newDocs.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val delta = Analytics.snapshotDiff(oldS, newS, "doc_id", "fp")
      val toCurate = newDocs.join(
        delta.filter(col("status") =!= "removed").select("doc_id"),
        Seq("doc_id"), "left_semi")
      val curated = TextAnalysis.qualityScore(toCurate, "text")
        .select(col("doc_id"), col("quality_score"))
      delta.join(curated, Seq("doc_id"), "left")
        .select(col("doc_id"), col("status"), col("quality_score"),
          (col("status") =!= "removed" && col("quality_score") >= 0.5)
            .cast("int").as("keep_flag"))
        .orderBy(col("doc_id"))
    }),
    "orders_zorder" -> ((s, dir) => {
      // Z-order (Morton) file-clustering key over (custkey, order day) —
      // the multi-dim layout key that lets footer min/max stats prune on
      // EITHER dimension after range-partitioning by zkey; zbucket is the
      // coarse file assignment (Analytics.zorderKey scaladoc)
      val b = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").bitwiseAND(lit(16383L)).as("x"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
          .cast("long").bitwiseAND(lit(16383L)).as("y"))
      b.withColumn("zkey", Analytics.zorderKey(col("x"), col("y")))
        .withColumn("zbucket", shiftright(col("zkey"), 18))
        .orderBy(col("o_orderkey"))
    }),

    // ---- multimodal columns ----
    "mm_media_meta" -> ((s, dir) =>
      Multimodal.fromDocuments(t(s, dir, "documents"))
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_bytes").as("n_bytes"))
        .orderBy(col("media_id"))),
    "mm_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.fromDocuments(t(s, dir, "documents")))
        .orderBy(col("media_id"))),
    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.fromDocuments(t(s, dir, "documents")))
        .orderBy(col("media_id"), col("frame_idx"))),
    "mm_resize" -> ((s, dir) =>
      Multimodal.resizeStub(Multimodal.fromDocuments(t(s, dir, "documents")))
        .orderBy(col("media_id"))),
    "mm_phash_neardups" -> ((s, dir) => {
      // perceptual (average-hash) near-dup pairs over the media payloads —
      // integer-exact 48-bit hash, pigeonhole chunk banding, exact hamming
      // verification on candidates only (Multimodal.phashNearDups scaladoc).
      // Byte-identical planted twins (media_id + 10M) guarantee hamming-0
      // pairs at EVERY SF — natural ≤3-bit pairs only exist at sf0.1 —
      // while the op still surfaces every close pair among originals too.
      val media = Multimodal.fromDocuments(t(s, dir, "documents"))
      val twins = media.withColumn("media_id", col("media_id") + lit(10000000L))
      Multimodal.phashNearDups(media.unionByName(twins), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "mm_video_neardups" -> ((s, dir) => {
      // video near-dup via frame-fingerprint set overlap
      // (Multimodal.videoNearDups): each doc's payload plus a planted
      // "re-encoded copy" (same bytes + a per-id tail — every full frame
      // shared, the tail frame changed) → twins pair at high Jaccard
      // wherever the doc spans enough frames, and the corpus' exact-dup
      // docs surface naturally at 1.0
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
        .select(col("media_id"), col("payload"))
      val twins = docs.select(
        (col("doc_id") + lit(10000000L)).as("media_id"),
        encode(concat(col("text"), lit(" tail"), col("doc_id").cast("string")),
          "UTF-8").as("payload"))
      Multimodal.videoNearDups(media.unionByName(twins),
          frameBytes = 64, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "mm_video_cross_corpus" -> ((s, dir) => {
      // video near-dup against a PREBUILT frame index
      // (Multimodal.frameIndexBuild / videoNearDupsWith): even ids are
      // the static reference; the batch is the odd half plus tail-
      // modified re-encodes of the reference (every full frame shared,
      // the tail frame changed) — each re-encode best-matches its own
      // original wherever it spans enough frames
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
        .select(col("media_id"), col("payload"))
      val ref = media.filter(col("media_id") % 2 === 0)
      val batch = media.filter(col("media_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0).select(
          (col("doc_id") + lit(10000000L)).as("media_id"),
          encode(concat(col("text"), lit(" tail"), col("doc_id").cast("string")),
            "UTF-8").as("payload")))
      Multimodal.videoNearDupsWith(batch, Multimodal.frameIndexBuild(ref),
          threshold = 0.5)
        .orderBy(col("id_new"))
    }),
    "mm_audio_neardups" -> ((s, dir) => {
      // audio near-dup via constellation-landmark set overlap
      // (Multimodal.audioNearDups — round 15, the fifth modality on the
      // near-dup seam): each doc's payload plus a planted "time-shifted
      // re-encode" (the SAME bytes behind a prefix of EXACTLY one hop —
      // lpad(doc_id, 14) + ": " = 16 bytes — so every window shifts by
      // one index and ALL interior landmarks survive, the hop-alignment
      // property the op exists for); maxLandmarkDf=20 is the
      // background-noise cap (capped-set Jaccard — op scaladoc)
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
        .select(col("media_id"), col("payload"))
      val twins = docs.select(
        (col("doc_id") + lit(10000000L)).as("media_id"),
        encode(concat(lpad(col("doc_id").cast("string"), 14, "0"),
          lit(": "), col("text")), "UTF-8").as("payload"))
      Multimodal.audioNearDups(media.unionByName(twins),
          windowBytes = 32, hop = 16, threshold = 0.5, maxLandmarkDf = 20)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "mm_audio_cross_corpus" -> ((s, dir) => {
      // audio near-dup against a PREBUILT landmark index
      // (Multimodal.audioIndexBuild / audioNearDupsWith): even ids are
      // the static reference; the batch is the odd half plus hop-aligned
      // prefixed re-encodes of the reference — each re-encode
      // best-matches its own original through the surviving landmarks
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
        .select(col("media_id"), col("payload"))
      val ref = media.filter(col("media_id") % 2 === 0)
      val batch = media.filter(col("media_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0).select(
          (col("doc_id") + lit(10000000L)).as("media_id"),
          encode(concat(lpad(col("doc_id").cast("string"), 14, "0"),
            lit(": "), col("text")), "UTF-8").as("payload")))
      Multimodal.audioNearDupsWith(batch,
          Multimodal.audioIndexBuild(ref, windowBytes = 32, hop = 16,
            maxLandmarkDf = 20),
          threshold = 0.5)
        .orderBy(col("id_new"))
    }),
    "mm_audio_quality" -> ((s, dir) => {
      // accuracy census on the DEPLOYED audio detector (round 16 — the
      // dedup_lsh_quality convention, closing the modality's census gap):
      // exact capped-set Jaccard decile census of the shared-landmark
      // pair universe with audioNearDups' literal threshold flag per
      // band. The raw corpus populates only the curve's ends, so every
      // doc gets a PARTIAL-OVERLAP twin planted — a hop-aligned PREFIX
      // covering (doc_id % 5 + 3)/10 of the text (truncation at offset 0
      // keeps every surviving window aligned, so the twin's landmark set
      // is ~a frac-sized subset of the original's and the pair Jaccard
      // lands near frac — fractions 0.3..0.7 straddle the 0.5 threshold
      // by construction, the vacuous-negative-branch rule); integer char
      // arithmetic, replayed by the oracle
      val docs = t(s, dir, "documents")
      val media = Multimodal.fromDocuments(docs)
        .select(col("media_id"), col("payload"))
      val twins = docs.select(
        (col("doc_id") + lit(10000000L)).as("media_id"),
        encode(expr(
          "substr(text, 1, CAST(length(text) * ((doc_id % 5) + 3) DIV 10 AS INT))"),
          "UTF-8").as("payload"))
      Multimodal.audioQualityCensus(media.unionByName(twins),
          windowBytes = 32, hop = 16, threshold = 0.5, maxLandmarkDf = 20)
        .orderBy(col("jband"))
    }),
    "mm_phash_cross_corpus" -> ((s, dir) => {
      // cross-corpus image near-dup against a PREBUILT reference index
      // (Multimodal.phashBuild / phashNearDupsWith — the round-9 artifact
      // seam): even media ids are the static reference, the batch is the
      // odd half plus byte-identical twins of the reference, so every
      // twin forces a hamming-0 best-match flag at EVERY SF while odd-id
      // naturals only flag where genuinely close. maxBucketSize stays 0
      // here so the oracle is the plain brute-force best match; the cap's
      // semantics are spec-pinned (MultimodalSpec) and probed at 1M.
      val media = Multimodal.fromDocuments(t(s, dir, "documents"))
      val ref = media.filter(col("media_id") % 2 === 0)
      val batch = media.filter(col("media_id") % 2 === 1)
        .unionByName(ref.withColumn("media_id", col("media_id") + lit(10000000L)))
      Multimodal.phashNearDupsWith(batch, Multimodal.phashBuild(ref), maxHamming = 3)
        .orderBy(col("id_new"))
    }),
  )

  /** Queries that exist ONLY as correctness oracles for a scale-path
    * counterpart — deliberately quadratic/unbounded shapes that the
    * harness runs at test SFs but that must never be mistaken for a
    * production entry (at 100× they cannot run). Bench reports them under
    * a separate "oracles" key so the headline totals are the production
    * surface only. (dedup_ngram_jaccard is the brute-force exact-Jaccard
    * oracle whose production shape is dedup_minhash_lsh.)
    */
  def oracleOnly: Set[String] = Set("dedup_ngram_jaccard")

  // ------------------------------------------------------------ oracle SQL

  /** DuckDB SQL equivalents — since round 10, for EVERY query: the last
    * three sketch queries (q_approx_distinct, q_percentiles_approx,
    * text_decontaminate_bloom) are promoted via within-documented-bound
    * verdicts — the sketch value is engine-specific, but the accuracy
    * CONTRACT is a deterministic boolean both engines state identically
    * (sketches here are hash-seeded, not random), emitted alongside the
    * exact values the oracle checks in full.
    * (sim_topk_ivf carries an oracle since its round-8 promotion to
    * the planted-twin exact leg — see the query comment. dedup_simhash and
    * dedup_minhash_estimate carry oracles since round 9: OracleHashSql
    * recomputes the xxhash64 dialect in DuckDB, so their hash-seeded
    * values are exactly reproducible.)
    * (dedup_minhash_lsh and dedup_embedding_cosine DO carry oracles: their
    * LSH recall is exact on the test corpora, spec-proven, so they share
    * their brute-force counterparts' SQL.)
    */
  def oracleSql: Map[String, String] = {
    val routeCase = Router.routeSql("text", DocRoutePlan.resolved)
    // shared text-analysis fragments (DuckDB dialect)
    val toks = raw"string_split_regex(trim(text), '\s+')"
    val subw = raw"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')"
    def markers(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val mk = TextAnalysis.langMarkers.toMap
    // exact n-gram Jaccard — also the oracle for dedup_minhash_lsh: LSH
    // candidate recall is exact on the test corpora (DedupSpec proves LSH
    // output == brute-force Jaccard at every SF), so both queries must
    // produce these exact rows
    val jaccardSql =
      s"""WITH toks AS (SELECT doc_id, $toks AS w FROM documents),
         |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
         |          FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
         |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5 ORDER BY id_a, id_b""".stripMargin
    // k-center greedy traversal replayed as a materialized-CTE chain (the
    // vocab_bpe_merges multi-round pattern): c1 = smallest id; round r —
    // dr = running min of squared distance to the selected set (exact
    // least() fold, same index-order summation as the Spark op), c{r+1} =
    // the farthest unselected point. AS MATERIALIZED is load-bearing
    // (DESIGN §12: inlined CTEs re-expand the chain combinatorially).
    val kcenterSql = {
      val k = 8
      def dist(p: String, c: String) =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, len($p.v) + 1), " +
          s"i -> ($p.v[i] - $c.v[i]) * ($p.v[i] - $c.v[i]))), (a, x) -> a + x)"
      val sb = new StringBuilder
      sb ++= "WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
      sb ++= "c1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),\n"
      for (r <- 2 to k) {
        val prev = if (r == 2) "e" else s"d${r - 2}"
        val d = if (r == 2) dist("p", "c")
                else s"least(p.d, ${dist("p", "c")})"
        sb ++= s"d${r - 1} AS MATERIALIZED (SELECT p.vec_id, p.v, $d AS d FROM $prev p, c${r - 1} c),\n"
        val excl = (1 until r).map(i => s"SELECT vec_id FROM c$i").mkString(" UNION ALL ")
        sb ++= s"c$r AS MATERIALIZED (SELECT vec_id, v, d FROM d${r - 1} WHERE vec_id NOT IN ($excl) ORDER BY d DESC, vec_id LIMIT 1),\n"
      }
      val rows = (s"SELECT CAST(1 AS INT) AS rnk, vec_id, CAST(-1.0 AS DOUBLE) AS mindist_r FROM c1" +:
        (2 to k).map(r =>
          s"SELECT CAST($r AS INT), vec_id, round(sqrt(d), 4) FROM c$r")).mkString("\n UNION ALL ")
      sb ++= s"sel AS ($rows)\nSELECT rnk, vec_id, mindist_r FROM sel ORDER BY rnk"
      sb.toString
    }
    // power iteration replayed (6 rounds, dim 64): per round — dot against
    // the previous round's 1-row vector relation, per-dimension HUGEINT
    // sums of the 2^20-quantized addends (integer addition is associative,
    // so the sum matches Spark's decimal aggregation bit-for-bit), then
    // normalize with the same index-order fold the driver uses. v0 =
    // 1/sqrt(64) = 0.125 exactly (a power of two — no literal rounding).
    val pcaIters = 6
    val pcaCtes = { // the WITH chain through v{iters}, shared by the
      // component dump (emb_pca_power) and the whitening projection
      // (emb_whiten_residual)
      val d = 64
      def fold(expr: String) = s"list_reduce(list_prepend(0.0, $expr), (a, x) -> a + x)"
      val sb = new StringBuilder
      sb ++= "WITH e AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
      sb ++= s"v0 AS (SELECT list_transform(range(1, ${d + 1}), i -> 0.125) AS vv),\n"
      for (r <- 1 to pcaIters) {
        sb ++= s"d$r AS MATERIALIZED (SELECT e.v, " +
          fold(s"list_transform(range(1, ${d + 1}), i -> e.v[i] * c.vv[i])") +
          s" AS dot FROM e, v${r - 1} c),\n"
        sb ++= s"a$r AS MATERIALIZED (SELECT i, sum(CAST(round(v[i] * dot * 1048576.0) AS HUGEINT)) AS s " +
          s"FROM d$r, unnest(range(1, ${d + 1})) AS t(i) GROUP BY i),\n"
        sb ++= s"v$r AS MATERIALIZED (SELECT list_transform(sl, x -> x / nrm) AS vv FROM " +
          s"(SELECT sl, sqrt(${fold("list_transform(sl, x -> x * x)")}) AS nrm FROM " +
          s"(SELECT list(CAST(s AS DOUBLE) / 1048576.0 ORDER BY i) AS sl FROM a$r)))" +
          (if (r == pcaIters) "\n" else ",\n")
      }
      sb.toString
    }
    val pcaSql = pcaCtes +
      s"SELECT CAST(i - 1 AS BIGINT) AS pos, round(vv[i], 5) AS loading_r " +
      s"FROM v$pcaIters, unnest(range(1, 65)) AS t(i) ORDER BY pos"
    // TextRank replayed round-for-round: exact fixed-point longs (1e-12
    // units), integer floor divisions, order-independent contribution
    // sums — the vocab_bpe_merges chained-CTE pattern; HUGEINT carries
    // the intermediate products exactly like Spark's ANSI longs
    val textRankSql = {
      val iters = 10
      val sb = new StringBuilder
      sb ++= s"WITH t AS (SELECT $toks AS ts FROM documents),\n"
      sb ++= "p0 AS (SELECT ts[i] AS a, ts[i+1] AS b " +
        "FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)),\n"
      sb ++= "p1 AS (SELECT a, b FROM p0 WHERE a <> b),\n"
      sb ++= "e AS MATERIALIZED (SELECT a, b, count(*) AS wab FROM " +
        "(SELECT a, b FROM p1 UNION ALL SELECT b AS a, a AS b FROM p1) GROUP BY 1, 2),\n"
      sb ++= "sw AS MATERIALIZED (SELECT a, sum(wab) AS s FROM e GROUP BY a),\n"
      sb ++= "n AS MATERIALIZED (SELECT DISTINCT unnest(ts) AS w FROM t),\n"
      sb ++= "r0 AS (SELECT w, 1000000000000::HUGEINT AS r FROM n),\n"
      for (k <- 1 to iters)
        sb ++= s"r$k AS MATERIALIZED (SELECT n.w, " +
          "150000000000::HUGEINT + (85 * coalesce(c.s, 0)) // 100 AS r " +
          "FROM n LEFT JOIN (SELECT e.b, sum((r.r * e.wab) // sw.s) AS s " +
          s"FROM e JOIN r${k - 1} r ON r.w = e.a JOIN sw ON sw.a = e.a " +
          "GROUP BY e.b) c ON c.b = n.w),\n"
      sb ++= s"fin AS (SELECT w, CAST(r AS BIGINT) AS rank_e12 FROM r$iters)\n"
      sb ++= "SELECT w, rank_e12 FROM fin ORDER BY rank_e12 DESC, w"
      sb.toString
    }
    val whitenSql = {
      def fold(expr: String) = s"list_reduce(list_prepend(0.0, $expr), (a, x) -> a + x)"
      pcaCtes.stripSuffix("\n") + ",\n" +
        "pr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n" +
        s"pd AS (SELECT pr.vec_id, pr.v, c.vv, ${fold("list_transform(range(1, 65), i -> pr.v[i] * c.vv[i])")} AS d " +
        s"FROM pr, v$pcaIters c)\n" +
        s"SELECT vec_id, round(sqrt(${fold("list_transform(range(1, 65), i -> v[i] * v[i])")}), 4) AS l2_before_r, " +
        s"round(sqrt(${fold("list_transform(range(1, 65), i -> (v[i] - d * vv[i]) * (v[i] - d * vv[i]))")}), 4) AS l2_after_r " +
        "FROM pd ORDER BY vec_id"
    }
    // MMR greedy selection replayed (k rounds, λ = 0.7): every cosine is
    // the explicit index-order fold (dot and both norms — deliberately NOT
    // list_cosine_similarity, whose internal order is engine-private), the
    // λ blend keeps 1−λ as a computed double (CAST(1.0)−CAST(0.7) — the
    // same 0.30000000000000004 the Scala side uses; a literal 0.3 would
    // be a DIFFERENT double), so the argmax chain cannot diverge.
    val mmrSql = {
      val k = 8
      // the oracle replays the SAME pool-then-rerank contract the Spark
      // side runs (mmrSelect default poolM = 64·k = 512): cut to the
      // top-512 by relevance first — rel is a bit-identical index-order
      // IEEE fold in both engines and the (rel DESC, id ASC) tie-break is
      // exact, so the cut is engine-reproducible — then replay the k
      // greedy rounds over the POOL. Both sides therefore compute pooled
      // MMR by construction; the oracle validates the production
      // semantics rather than coinciding with them only while the
      // full-corpus traversal happens to stay inside the pool.
      val poolM = 64 * k
      def dt(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
      val lam = "CAST(0.7 AS DOUBLE)"
      val sb = new StringBuilder
      sb ++= "WITH e AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
      sb ++= "q AS (SELECT v AS qv FROM e WHERE id = 0),\n"
      sb ++= s"b0 AS MATERIALIZED (SELECT id, v, ${dt("v", "qv")} / (sqrt(${dt("v", "v")}) * sqrt(${dt("qv", "qv")})) AS rel, " +
        s"sqrt(${dt("v", "v")}) AS vn, CAST(0.0 AS DOUBLE) AS ms FROM e, q),\n"
      sb ++= s"b AS MATERIALIZED (SELECT * FROM b0 ORDER BY rel DESC, id LIMIT $poolM),\n"
      for (r <- 1 to k) {
        val src = if (r == 1) "b" else s"m${r - 1}"
        val excl = if (r == 1) "" else " WHERE id NOT IN (" +
          (1 until r).map(i => s"SELECT id FROM c$i").mkString(" UNION ALL ") + ")"
        sb ++= s"c$r AS MATERIALIZED (SELECT id, v, rel, vn, ms, $lam * rel - (CAST(1.0 AS DOUBLE) - $lam) * ms AS score " +
          s"FROM $src$excl ORDER BY score DESC, id LIMIT 1),\n"
        if (r < k)
          sb ++= s"m$r AS MATERIALIZED (SELECT p.id, p.v, p.rel, p.vn, " +
            s"greatest(p.ms, ${dt("p.v", "c.v")} / (p.vn * sqrt(${dt("c.v", "c.v")}))) AS ms FROM $src p, c$r c),\n"
      }
      val rows = (1 to k).map(r =>
        s"SELECT CAST($r AS INT) AS rnk, id AS vec_id, round(score, 4) AS score_r FROM c$r")
        .mkString("\n UNION ALL ")
      sb ++= s"sel AS ($rows)\nSELECT rnk, vec_id, score_r FROM sel ORDER BY rnk"
      sb.toString
    }
    // the drift-gated rebuild verdict replayed end-to-end: hash-ordered
    // seed selection (xxh64LongChain — Spark's ORDER BY xxhash64(vec_id)),
    // kernel-exact assignment cosines (explicit index-order folds, argmax
    // tie-broken (cos DESC, cid ASC) like NearestCentroids), the scoreDrift
    // census, and the INTEGER TVD comparison (Σ round(d_ppm·10⁴)::BIGINT
    // — order-independent, can never flip on summation order)
    val ivfDriftSql = {
      def dt(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
      val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
        "(SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0)", "vec_id")
      val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
      s"""WITH $hashCteStr,
         |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 16),
         |cents0 AS (SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv
         |           FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
         |cents AS MATERIALIZED (SELECT cid, cv, sqrt(${dt("cv", "cv")}) AS cn FROM cents0),
         |refv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |         FROM embeddings WHERE vec_id % 2 = 0),
         |curv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> CAST(CAST(x * 0.25 + 2.0 AS FLOAT) AS DOUBLE)) AS v
         |         FROM embeddings WHERE vec_id % 2 = 1),
         |rs AS (SELECT r.vec_id, c.cid,
         |         ${dt("r.v", "c.cv")} / (sqrt(${dt("r.v", "r.v")}) * c.cn) AS cos
         |       FROM refv r, cents c),
         |ra AS (SELECT vec_id, round(cos, 2) AS acos FROM (
         |         SELECT vec_id, cos, row_number() OVER
         |           (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rnk FROM rs)
         |       WHERE rnk = 1),
         |cs AS (SELECT r.vec_id, c.cid,
         |         ${dt("r.v", "c.cv")} / (sqrt(${dt("r.v", "r.v")}) * c.cn) AS cos
         |       FROM curv r, cents c),
         |ca AS (SELECT vec_id, round(cos, 2) AS acos FROM (
         |         SELECT vec_id, cos, row_number() OVER
         |           (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rnk FROM cs)
         |       WHERE rnk = 1),
         |hr AS (SELECT CAST(round(round(acos, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
         |       FROM ra GROUP BY 1),
         |hc AS (SELECT CAST(round(round(acos, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
         |       FROM ca GROUP BY 1),
         |tot AS (SELECT (SELECT sum(n) FROM hr) AS tr, (SELECT sum(n) FROM hc) AS tc),
         |census AS (SELECT coalesce(hr.bucket, hc.bucket) AS bucket,
         |  CAST(coalesce(hr.n, 0) AS BIGINT) AS n_ref,
         |  CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cur,
         |  round(abs(CAST(coalesce(hr.n, 0) AS DOUBLE) / tr
         |    - CAST(coalesce(hc.n, 0) AS DOUBLE) / tc) * 1e6, 4) AS d_ppm
         |  FROM hr FULL OUTER JOIN hc ON hr.bucket = hc.bucket, tot),
         |fired AS (SELECT sum(CAST(round(d_ppm * 1e4, 0) AS BIGINT)) > 2000000000
         |          AS rebuild_fired FROM census)
         |SELECT bucket, n_ref, n_cur, d_ppm, rebuild_fired
         |FROM census, fired ORDER BY bucket""".stripMargin
    }
    // the IVF recall census replayed end-to-end: hash-ordered seed
    // selection (the same xxh64LongChain as ivfDriftSql, over the FULL
    // corpus), kernel-exact bucket assignment and probe selection (explicit
    // index-order folds, (cos DESC, cid ASC) argmax — NearestCentroids'
    // tie-break), then both search legs with the identical fold so the
    // k=10 membership boundary — a raw-double comparison — can't flip
    // between engines, and the per-query intersection counts hash-match
    val ivfRecallSql = {
      def dt(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
      val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
        "(SELECT vec_id FROM embeddings)", "vec_id")
      val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
      s"""WITH $hashCteStr,
         |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 16),
         |cents0 AS (SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv
         |           FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
         |cents AS MATERIALIZED (SELECT cid, cv, sqrt(${dt("cv", "cv")}) AS cn FROM cents0),
         |corp0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |corp AS MATERIALIZED (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS vn FROM corp0),
         |asg AS MATERIALIZED (SELECT vec_id, cid AS bucket FROM (
         |  SELECT c.vec_id, ct.cid, row_number() OVER (PARTITION BY c.vec_id
         |    ORDER BY ${dt("c.v", "ct.cv")} / (c.vn * ct.cn) DESC, ct.cid ASC) AS rnk
         |  FROM corp c, cents ct) WHERE rnk = 1),
         |qs AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, vn AS qn
         |      FROM corp WHERE vec_id < 20),
         |probes AS (SELECT query_id, cid AS bucket FROM (
         |  SELECT q.query_id, ct.cid, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${dt("q.qv", "ct.cv")} / (q.qn * ct.cn) DESC, ct.cid ASC) AS rnk
         |  FROM qs q, cents ct) WHERE rnk <= 4),
         |appr AS (SELECT query_id, neighbor_id FROM (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY ${dt("q.qv", "c.v")} / (q.qn * c.vn) DESC, c.vec_id ASC) AS rnk
         |  FROM probes p JOIN asg a ON a.bucket = p.bucket
         |    JOIN corp c ON c.vec_id = a.vec_id
         |    JOIN qs q ON q.query_id = p.query_id
         |  WHERE c.vec_id <> p.query_id) WHERE rnk <= 10),
         |exct AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${dt("q.qv", "c.v")} / (q.qn * c.vn) DESC, c.vec_id ASC) AS rnk
         |  FROM qs q, corp c WHERE c.vec_id <> q.query_id) WHERE rnk <= 10),
         |hits AS (SELECT e.query_id, count(*) AS n_hit FROM exct e
         |  JOIN appr a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY 1)
         |SELECT q.query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit
         |FROM qs q LEFT JOIN hits h ON h.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin
    }
    // product quantization replayed end-to-end (iters = 0): codebooks are
    // slices of the 16 hash-smallest vectors ordered by id (code = position),
    // per-subspace assignment is the argmin of an index-order squared-diff
    // fold (ties to the lower code — PqEncodeCodes' strict <), the
    // reconstruction is an exact codeword concat, and ADC/distortion are
    // index-order folds over it — every raw-double comparison bit-identical
    val pqCtes = {
      val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
        "(SELECT vec_id FROM embeddings)", "vec_id")
      val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
      s"""WITH $hashCteStr,
         |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 16),
         |sv AS (SELECT row_number() OVER (ORDER BY e.vec_id) - 1 AS code,
         |         CAST(e.embedding AS DOUBLE[]) AS v
         |       FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
         |ss AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS subspace),
         |cb AS MATERIALIZED (SELECT ss.subspace, CAST(sv.code AS INT) AS code,
         |       sv.v[ss.subspace*8+1 : ss.subspace*8+8] AS cw FROM sv, ss),
         |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sub AS (SELECT c.vec_id, ss.subspace,
         |          c.v[ss.subspace*8+1 : ss.subspace*8+8] AS x FROM corp c, ss),
         |dist AS (SELECT s.vec_id, s.subspace, cb.code,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
         |      i -> (s.x[i] - cb.cw[i]) * (s.x[i] - cb.cw[i]))), (a, b) -> a + b) AS d2
         |  FROM sub s JOIN cb ON cb.subspace = s.subspace),
         |enc AS MATERIALIZED (SELECT vec_id, subspace, code FROM (
         |    SELECT vec_id, subspace, code, row_number() OVER
         |      (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rnk
         |    FROM dist) WHERE rnk = 1),
         |recon AS MATERIALIZED (SELECT e.vec_id,
         |    flatten(list(cb.cw ORDER BY e.subspace)) AS rv
         |  FROM enc e JOIN cb ON cb.subspace = e.subspace AND cb.code = e.code
         |  GROUP BY e.vec_id)""".stripMargin
    }
    val pqCodesSql =
      s"""$pqCtes
         |SELECT vec_id, subspace, code FROM enc ORDER BY vec_id, subspace""".stripMargin
    val pqTopkSql =
      s"""$pqCtes,
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id < 20),
         |sc AS (SELECT q.query_id, r.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q.qv) + 1),
         |      i -> q.qv[i] * r.rv[i])), (a, b) -> a + b) AS adc
         |  FROM qs q, recon r WHERE r.vec_id <> q.query_id),
         |rk AS (SELECT query_id, neighbor_id, adc, row_number() OVER
         |    (PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC) AS rnk FROM sc)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, round(adc, 4) AS adc_r
         |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    val pqDistortionSql =
      s"""$pqCtes
         |SELECT c.vec_id, round(list_reduce(list_prepend(0.0,
         |    list_transform(range(1, len(c.v) + 1),
         |      i -> (c.v[i] - r.rv[i]) * (c.v[i] - r.rv[i]))), (a, b) -> a + b), 4)
         |  AS pq_err_r
         |FROM corp c JOIN recon r ON r.vec_id = c.vec_id ORDER BY c.vec_id""".stripMargin
    // cluster labeling: the hash-seeded 8-bucket assignment (the
    // ivfRecallSql coarse machinery) + doc join on the shared id space +
    // per-bucket top-5 lift terms; lift = (n_bw·N)/(n_b·df_w) computed as
    // cast-then-multiply doubles (the Spark side's ANSI-overflow-safe
    // form) — identical bits, so the raw-double rank order can't flip
    val clusterLabelsSql = {
      def dt(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
      val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
        "(SELECT vec_id FROM embeddings)", "vec_id")
      val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
      s"""WITH $hashCteStr,
         |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 8),
         |cents0 AS (SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv
         |           FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
         |cents AS MATERIALIZED (SELECT cid, cv, sqrt(${dt("cv", "cv")}) AS cn FROM cents0),
         |corpn AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |            sqrt(${dt("CAST(embedding AS DOUBLE[])", "CAST(embedding AS DOUBLE[])")}) AS vn
         |          FROM embeddings),
         |asg AS (SELECT vec_id, cid AS bucket FROM (
         |  SELECT c.vec_id, ct.cid, row_number() OVER (PARTITION BY c.vec_id
         |    ORDER BY ${dt("c.v", "ct.cv")} / (c.vn * ct.cn) DESC, ct.cid ASC) AS rnk
         |  FROM corpn c, cents ct) WHERE rnk = 1),
         |joined AS (SELECT d.doc_id, d.text, a.bucket
         |           FROM documents d JOIN asg a ON a.vec_id = d.doc_id),
         |terms AS (SELECT doc_id, bucket, unnest(list_distinct($toks)) AS term
         |          FROM joined),
         |nbw AS (SELECT bucket, term, count(*) AS n_bw FROM terms GROUP BY 1, 2),
         |dfw AS (SELECT term, count(*) AS df_w FROM terms GROUP BY 1),
         |nb AS (SELECT bucket, count(*) AS n_b FROM joined GROUP BY 1),
         |nn AS (SELECT count(*) AS n_docs FROM joined),
         |sc AS (SELECT nbw.bucket, nbw.term, n_bw,
         |    (CAST(n_bw AS DOUBLE) * CAST(n_docs AS DOUBLE))
         |      / (CAST(n_b AS DOUBLE) * CAST(df_w AS DOUBLE)) AS lift
         |  FROM nbw JOIN dfw USING (term) JOIN nb USING (bucket), nn
         |  WHERE n_bw >= 2),
         |rk AS (SELECT bucket, term, n_bw, lift, row_number() OVER
         |    (PARTITION BY bucket ORDER BY lift DESC, n_bw DESC, term ASC) AS rnk
         |  FROM sc)
         |SELECT bucket, CAST(rnk AS INT) AS rnk, term, n_bw, round(lift, 4) AS lift_r
         |FROM rk WHERE rnk <= 5 ORDER BY bucket, rnk""".stripMargin
    }
    // IVF-PQ end-to-end, RESIDUAL encoding (codes quantize x − centroid —
    // the Jégou architecture; raw-vector coding measured recall 0.012 on
    // the 1M clustered probe): the same 16 hash-ordered seeds feed both
    // quantizers — coarse centroids are the seed vectors, PQ codebooks are
    // slices of the seed rows' RESIDUALS ordered by id. Assignment/probes
    // via index-order cosine folds, residual argmin via squared-diff folds,
    // ADC = Σ q[i]·(centroid[i] + recon[i]) — bit-identical both engines.
    val ivfPqTopkSql = {
      def dt(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
      val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
        "(SELECT vec_id FROM embeddings)", "vec_id")
      val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
      s"""WITH $hashCteStr,
         |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 16),
         |cents0 AS (SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv
         |           FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
         |cents AS MATERIALIZED (SELECT cid, cv, sqrt(${dt("cv", "cv")}) AS cn FROM cents0),
         |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |corpn AS MATERIALIZED (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS vn FROM corp),
         |asg AS MATERIALIZED (SELECT vec_id, cid AS bucket FROM (
         |  SELECT c.vec_id, ct.cid, row_number() OVER (PARTITION BY c.vec_id
         |    ORDER BY ${dt("c.v", "ct.cv")} / (c.vn * ct.cn) DESC, ct.cid ASC) AS rnk
         |  FROM corpn c, cents ct) WHERE rnk = 1),
         |resid AS MATERIALIZED (SELECT c.vec_id, a.bucket,
         |    list_transform(range(1, len(c.v) + 1), i -> c.v[i] - ct.cv[i]) AS r
         |  FROM corp c JOIN asg a ON a.vec_id = c.vec_id
         |    JOIN cents ct ON ct.cid = a.bucket),
         |rsv AS (SELECT row_number() OVER (ORDER BY r2.vec_id) - 1 AS code, r2.r AS v
         |        FROM resid r2 JOIN seeds s ON s.vec_id = r2.vec_id),
         |ss AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS subspace),
         |cb AS MATERIALIZED (SELECT ss.subspace, CAST(rsv.code AS INT) AS code,
         |       rsv.v[ss.subspace*8+1 : ss.subspace*8+8] AS cw FROM rsv, ss),
         |sub AS (SELECT r2.vec_id, ss.subspace,
         |          r2.r[ss.subspace*8+1 : ss.subspace*8+8] AS x FROM resid r2, ss),
         |pdist AS (SELECT s.vec_id, s.subspace, cb.code,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
         |      i -> (s.x[i] - cb.cw[i]) * (s.x[i] - cb.cw[i]))), (a, b) -> a + b) AS d2
         |  FROM sub s JOIN cb ON cb.subspace = s.subspace),
         |enc AS (SELECT vec_id, subspace, code FROM (
         |    SELECT vec_id, subspace, code, row_number() OVER
         |      (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rnk
         |    FROM pdist) WHERE rnk = 1),
         |reconr AS MATERIALIZED (SELECT e.vec_id,
         |    flatten(list(cb.cw ORDER BY e.subspace)) AS rv
         |  FROM enc e JOIN cb ON cb.subspace = e.subspace AND cb.code = e.code
         |  GROUP BY e.vec_id),
         |qs AS (SELECT vec_id AS query_id, v AS qv, vn AS qn
         |       FROM corpn WHERE vec_id < 20),
         |probes AS (SELECT query_id, cid AS bucket FROM (
         |  SELECT q.query_id, ct.cid, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${dt("q.qv", "ct.cv")} / (q.qn * ct.cn) DESC, ct.cid ASC) AS rnk
         |  FROM qs q, cents ct) WHERE rnk <= 4),
         |sc AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, len(q.qv) + 1),
         |      i -> q.qv[i] * (ct.cv[i] + rr.rv[i]))), (x, y) -> x + y) AS adc
         |  FROM probes p JOIN asg a ON a.bucket = p.bucket
         |    JOIN cents ct ON ct.cid = p.bucket
         |    JOIN reconr rr ON rr.vec_id = a.vec_id
         |    JOIN qs q ON q.query_id = p.query_id
         |  WHERE a.vec_id <> p.query_id),
         |rk AS (SELECT query_id, neighbor_id, adc, row_number() OVER
         |    (PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC) AS rnk FROM sc)
         |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, round(adc, 4) AS adc_r
         |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    }
    // the composite drift monitor replayed end-to-end: frozen coarse
    // quantizer (16 hash-smallest EVEN ids), frozen residual codebooks
    // (32 hash-smallest even ids — 16 zero seed-residuals + 16 real ones,
    // codes by id asc), assign → residual → encode → ‖resid − recon‖²
    // for the even snapshot AND the planted drifted odd batch in one
    // pipeline (ids are parity-disjoint), then the scoreDrift cent-bucket
    // census and the integer-summed TVD > 0.1 verdict
    val ivfPqDriftSql = {
      def dt(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (x, y) -> x + y)"
      val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain(
        "(SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0)", "vec_id")
      val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
      s"""WITH $hashCteStr,
         |seeds AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 16),
         |pq32 AS (SELECT vec_id FROM $hashFinal ORDER BY zh, vec_id LIMIT 32),
         |cents0 AS (SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv
         |           FROM embeddings e JOIN seeds s ON e.vec_id = s.vec_id),
         |cents AS MATERIALIZED (SELECT cid, cv, sqrt(${dt("cv", "cv")}) AS cn FROM cents0),
         |allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |         FROM embeddings WHERE vec_id % 2 = 0
         |         UNION ALL
         |         SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> CAST(CAST(x * 0.25 + 2.0 AS FLOAT) AS DOUBLE)) AS v
         |         FROM embeddings WHERE vec_id % 2 = 1),
         |alln AS MATERIALIZED (SELECT vec_id, v, sqrt(${dt("v", "v")}) AS vn FROM allv),
         |asg AS MATERIALIZED (SELECT vec_id, cid AS bucket FROM (
         |  SELECT a.vec_id, ct.cid, row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY ${dt("a.v", "ct.cv")} / (a.vn * ct.cn) DESC, ct.cid ASC) AS rnk
         |  FROM alln a, cents ct) WHERE rnk = 1),
         |resid AS MATERIALIZED (SELECT c.vec_id, a.bucket,
         |    list_transform(range(1, len(c.v) + 1), i -> c.v[i] - ct.cv[i]) AS r
         |  FROM allv c JOIN asg a ON a.vec_id = c.vec_id
         |    JOIN cents ct ON ct.cid = a.bucket),
         |rsv AS (SELECT row_number() OVER (ORDER BY r2.vec_id) - 1 AS code, r2.r AS v
         |        FROM resid r2 JOIN pq32 p ON p.vec_id = r2.vec_id),
         |ss AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS subspace),
         |cb AS MATERIALIZED (SELECT ss.subspace, CAST(rsv.code AS INT) AS code,
         |       rsv.v[ss.subspace*8+1 : ss.subspace*8+8] AS cw FROM rsv, ss),
         |sub AS (SELECT r2.vec_id, ss.subspace,
         |          r2.r[ss.subspace*8+1 : ss.subspace*8+8] AS x FROM resid r2, ss),
         |pdist AS (SELECT s.vec_id, s.subspace, cb.code,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
         |      i -> (s.x[i] - cb.cw[i]) * (s.x[i] - cb.cw[i]))), (a, b) -> a + b) AS d2
         |  FROM sub s JOIN cb ON cb.subspace = s.subspace),
         |enc AS (SELECT vec_id, subspace, code FROM (
         |    SELECT vec_id, subspace, code, row_number() OVER
         |      (PARTITION BY vec_id, subspace ORDER BY d2 ASC, code ASC) AS rnk
         |    FROM pdist) WHERE rnk = 1),
         |reconr AS MATERIALIZED (SELECT e.vec_id,
         |    flatten(list(cb.cw ORDER BY e.subspace)) AS rv
         |  FROM enc e JOIN cb ON cb.subspace = e.subspace AND cb.code = e.code
         |  GROUP BY e.vec_id),
         |err AS (SELECT r2.vec_id,
         |    round(list_reduce(list_prepend(0.0, list_transform(range(1, len(r2.r) + 1),
         |      i -> (r2.r[i] - rr.rv[i]) * (r2.r[i] - rr.rv[i]))), (a, b) -> a + b), 2)
         |      AS pq_err
         |  FROM resid r2 JOIN reconr rr ON rr.vec_id = r2.vec_id),
         |hr AS (SELECT CAST(round(round(pq_err, 2) * 100, 0) AS INT) AS bucket,
         |       count(*) AS n FROM err WHERE vec_id % 2 = 0 GROUP BY 1),
         |hc AS (SELECT CAST(round(round(pq_err, 2) * 100, 0) AS INT) AS bucket,
         |       count(*) AS n FROM err WHERE vec_id % 2 = 1 GROUP BY 1),
         |tot AS (SELECT (SELECT sum(n) FROM hr) AS tr, (SELECT sum(n) FROM hc) AS tc),
         |census AS (SELECT coalesce(hr.bucket, hc.bucket) AS bucket,
         |  CAST(coalesce(hr.n, 0) AS BIGINT) AS n_ref,
         |  CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cur,
         |  round(abs(CAST(coalesce(hr.n, 0) AS DOUBLE) / tr
         |    - CAST(coalesce(hc.n, 0) AS DOUBLE) / tc) * 1e6, 4) AS d_ppm
         |  FROM hr FULL OUTER JOIN hc ON hr.bucket = hc.bucket, tot),
         |fired AS (SELECT sum(CAST(round(d_ppm * 1e4, 0) AS BIGINT)) > 2000000000
         |          AS rebuild_fired FROM census)
         |SELECT bucket, n_ref, n_cur, d_ppm, rebuild_fired
         |FROM census, fired ORDER BY bucket""".stripMargin
    }
    Map(
      "route_first_match" ->
        s"SELECT doc_id, coalesce($routeCase, '__dropped') AS topic FROM documents ORDER BY doc_id",
      "route_topic_counts" ->
        s"""SELECT topic, count(*) AS n FROM (SELECT coalesce($routeCase, '__dropped') AS topic FROM documents) GROUP BY topic ORDER BY topic""",
      "route_projection" ->
        s"""SELECT "key", "value", topic FROM (SELECT CAST(doc_id AS VARCHAR) AS "key", text AS "value", $routeCase AS topic FROM documents) WHERE topic IS NOT NULL ORDER BY topic, "key"""",
      "dedup_exact_groups" ->
        "SELECT substr(text, 1, 80) AS prefix80, min(doc_id) AS keeper_id, count(*) AS dup_count FROM documents GROUP BY prefix80 ORDER BY prefix80",
      "dedup_exact_keep" ->
        "SELECT doc_id FROM documents WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY substr(text, 1, 80)) ORDER BY doc_id",
      "dedup_ngram_jaccard" -> jaccardSql,
      "dedup_minhash_lsh" -> jaccardSql,
      "dedup_containment" ->
        // directed containment with the SAME df-cap the operator applies
        // (cap replayed, so the recall trade is value-checked); explicit
        // DOUBLE division matches Spark's cast-then-divide bit-for-bit
        s"""WITH toks AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)),
           |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
           |cool AS (SELECT g FROM (SELECT g, count(*) AS df FROM grams GROUP BY g)
           |         WHERE df <= 100),
           |bg AS (SELECT doc_id, g FROM grams JOIN cool USING (g)),
           |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           |          FROM bg a JOIN bg b ON a.g = b.g AND a.doc_id <> b.doc_id
           |          GROUP BY 1, 2)
           |SELECT id_a, id_b, round(CAST(c AS DOUBLE) / sa.n, 4) AS containment
           |FROM inter JOIN sizes sa ON sa.doc_id = id_a
           |WHERE CAST(c AS DOUBLE) / sa.n >= 0.6 ORDER BY id_a, id_b""".stripMargin,
      "dedup_exact_cross" ->
        """SELECT n.doc_id FROM documents n
          |WHERE n.doc_id % 2 = 1 AND EXISTS (
          |  SELECT 1 FROM documents r WHERE r.doc_id % 2 = 0
          |  AND substr(r.text, 1, 80) = substr(n.text, 1, 80))
          |ORDER BY n.doc_id""".stripMargin,
      "dedup_containment_cross" ->
        // reference-side-only df cap (batch-invariant), best match per
        // new doc by (containment DESC, ref id ASC) — exact-division
        // tie-break parity with the Spark max(struct) argmax
        s"""WITH toks AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)),
           |rg0 AS (SELECT doc_id AS id_ref, g FROM grams WHERE doc_id % 2 = 0),
           |cool AS (SELECT g FROM (SELECT g, count(*) AS df FROM rg0 GROUP BY g)
           |         WHERE df <= 100),
           |rg AS (SELECT id_ref, rg0.g FROM rg0 JOIN cool USING (g)),
           |ng AS (SELECT doc_id AS id_new, g FROM grams WHERE doc_id % 2 = 1),
           |sizes AS (SELECT doc_id AS id_new, count(*) AS n FROM grams
           |          WHERE doc_id % 2 = 1 GROUP BY 1),
           |inter AS (SELECT id_new, id_ref, count(*) AS c FROM ng JOIN rg USING (g)
           |          GROUP BY 1, 2),
           |sc AS (SELECT inter.id_new, id_ref, CAST(c AS DOUBLE) / s.n AS cont
           |       FROM inter JOIN sizes s ON s.id_new = inter.id_new
           |       WHERE CAST(c AS DOUBLE) / s.n >= 0.6),
           |best AS (SELECT id_new, id_ref, cont, row_number() OVER
           |         (PARTITION BY id_new ORDER BY cont DESC, id_ref ASC) AS rnk FROM sc)
           |SELECT id_new, id_ref AS matched_ref, round(cont, 4) AS best_containment
           |FROM best WHERE rnk = 1 ORDER BY id_new""".stripMargin,
      // round-9 promotions: the seeded-hash pair ops get FULL value oracles
      // by recomputing Spark's xxhash64 dialect in DuckDB SQL (XXH64
      // short-input path unrolled — see OracleHashSql scaladoc). Raw
      // corpus, natural near-pairs included; no planted-twin restriction.
      "dedup_simhash" -> OracleHashSql.simhashNearDupsSql(maxHamming = 3),
      "dedup_minhash_estimate" -> OracleHashSql.minHashEstimateSql(),
      "text_textrank" -> textRankSql,
      "dedup_lsh_quality" -> OracleHashSql.lshQualityCensusSql(docsSelect =
        // the 2/3-prefix twin plant replayed with the same integer char
        // arithmetic (DuckDB // == Spark DIV on positive ints)
        """SELECT doc_id AS id, text FROM documents
          |UNION ALL
          |SELECT doc_id + 10000000 AS id,
          |  substr(text, 1, CAST(length(text) * 2 // 3 AS INT)) AS text
          |FROM documents WHERE doc_id % 5 = 0""".stripMargin),
      // fixed-table BPE encode: the in-order greedy fold replayed as a
      // list_reduce chain, one CTE per merge rank (OracleBpeSql scaladoc)
      "vocab_bpe_encode" -> OracleBpeSql.pieceCensusSql(BpeFixedMerges),
      "vocab_unigram_train" -> OracleUnigramSql.trainSql(
        UnigramVocabK, UnigramPieceLen, UnigramRounds,
        TextAnalysis.UnigramOovScore, UnigramSeedK, unigramAugSql),
      "vocab_unigram_encode" -> OracleUnigramSql.encodeSql(
        UnigramVocabK, UnigramPieceLen, UnigramRounds,
        TextAnalysis.UnigramOovScore, UnigramSeedK, unigramAugSql),
      "docs_unigram_bits" -> OracleUnigramSql.bitsSql(
        UnigramVocabK, UnigramPieceLen, UnigramRounds,
        TextAnalysis.UnigramOovScore, UnigramSeedK, unigramAugSql),
      "docs_bpe_token_counts" -> OracleBpeSql.tokenCountsSql(BpeFixedMerges),
      // both tokenizers replayed in ONE statement: the unigram bits chain
      // (train + encode over the augmented corpus) beside the b_-prefixed
      // BPE fold chain over the SAME aug CTE; per-language census +
      // the two fertility divides and the integer bits-per-token
      "docs_tokenizer_compare" -> {
        val uniC = OracleUnigramSql.bitsCtes(UnigramVocabK, UnigramPieceLen,
          UnigramRounds, TextAnalysis.UnigramOovScore, UnigramSeedK,
          unigramAugSql)
        val bpeC = OracleBpeSql.pieceCtesFragment(BpeFixedMerges,
          srcRel = "aug", prefix = "b_")
        s"""$uniC,
           |$bpeC,
           |bstat AS (SELECT doc_id, count(*) AS np FROM b_pieces GROUP BY doc_id),
           |wstat AS (SELECT doc_id, len(list_filter(ts, x -> length(x) > 0)) AS nw FROM tk),
           |per AS (SELECT d.doc_id, d.lang,
           |    coalesce(w.nw, 0) AS nw, coalesce(b.np, 0) AS bp,
           |    coalesce(u.n, 0) AS up, coalesce(-u.ss, 0) AS bits
           |  FROM documents d
           |  LEFT JOIN wstat w USING (doc_id)
           |  LEFT JOIN bstat b USING (doc_id)
           |  LEFT JOIN udoc u USING (doc_id))
           |SELECT lang, CAST(sum(nw) AS BIGINT) AS n_words,
           |  CAST(sum(bp) AS BIGINT) AS bpe_pieces,
           |  CAST(sum(up) AS BIGINT) AS uni_pieces,
           |  round(CAST(sum(bp) AS DOUBLE) / greatest(sum(nw), 1), 4) AS bpe_fertility,
           |  round(CAST(sum(up) AS DOUBLE) / greatest(sum(nw), 1), 4) AS uni_fertility,
           |  CAST(sum(bits) AS BIGINT) AS uni_bits_fp,
           |  CAST(sum(bits) // greatest(sum(up), 1) AS BIGINT) AS uni_bpt_fp
           |FROM per GROUP BY lang ORDER BY lang""".stripMargin
      },
      "vocab_fertility" -> OracleBpeSql.fertilitySql(BpeFixedMerges),
      // the TRAINING loop replayed: 20 data-dependent census→argmax→
      // refold rounds chained through materialized one-row pair relations
      // (OracleBpeSql.mergesSql scaladoc — this sat rows-only for three
      // rounds under an "oracle-inexpressible" claim that proved wrong)
      "vocab_bpe_merges" -> OracleBpeSql.mergesSql(20),
      "dedup_cross_corpus" ->
        // exact cross-half Jaccard (even ids = reference, odd = new),
        // best reference per new doc by (jaccard desc, ref id asc) — the
        // brute-force specification of the asymmetric LSH path
        s"""WITH toks AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)),
           |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
           |inter AS (SELECT b.doc_id AS id_new, a.doc_id AS id_ref, count(*) AS c
           |          FROM grams a JOIN grams b ON a.g = b.g
           |          WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2),
           |jac AS (SELECT id_new, id_ref, c * 1.0 / (sa.n + sb.n - c) AS j
           |        FROM inter JOIN sizes sa ON sa.doc_id = id_ref JOIN sizes sb ON sb.doc_id = id_new
           |        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
           |r AS (SELECT id_new, id_ref, j,
           |      row_number() OVER (PARTITION BY id_new ORDER BY j DESC, id_ref) AS rn FROM jac)
           |SELECT id_new, id_ref AS matched_ref, round(j, 4) AS best_jaccard
           |FROM r WHERE rn = 1 ORDER BY id_new""".stripMargin,
      "dedup_clusters" ->
        // connected components over the exact-Jaccard pair graph (== the
        // LSH pairs, spec-proven) via transitive-closure recursion
        s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($jaccardSql)),
           |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, n) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.n = e.a)
           |SELECT id AS doc_id, min(n) AS cluster_rep
           |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
      "docs_leakage_split" -> {
        // the dedup_clusters recursion, then Spark's xxhash64-of-BIGINT on
        // the component representative (xxh64LongChain closed form) → the
        // same pmod-100 train/val/test bucketing
        val (hashCtes, hashFinal) = OracleHashSql.xxh64LongChain("comp", "rep", "lk")
        val hashCteStr = hashCtes.map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
        s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($jaccardSql)),
           |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, n) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.n = e.a),
           |comp AS (SELECT id, min(n) AS rep FROM reach GROUP BY id),
           |$hashCteStr,
           |b AS (SELECT id, rep, ((lkh % 100) + 100) % 100 AS bkt FROM $hashFinal)
           |SELECT id AS doc_id, rep AS cluster_rep,
           |  CASE WHEN bkt < 90 THEN 'train' WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split
           |FROM b ORDER BY doc_id""".stripMargin
      },
      "dedup_cluster_sizes" ->
        // the dedup_clusters recursion + a size histogram on top
        s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($jaccardSql)),
           |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, n) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.n = e.a),
           |comp AS (SELECT id, min(n) AS rep FROM reach GROUP BY id),
           |sz AS (SELECT rep, count(*) AS cluster_size FROM comp GROUP BY rep)
           |SELECT cluster_size, count(*) AS n_clusters FROM sz
           |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
      "dedup_keep_best" ->
        // the dedup_clusters recursion joined with the text_quality score
        // fold; keeper = row_number over (score DESC, id ASC) per cluster
        s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($jaccardSql)),
           |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, n) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.id, e.b FROM reach r JOIN edges e ON r.n = e.a),
           |comp AS (SELECT id, min(n) AS rep FROM reach GROUP BY id),
           |f AS (SELECT doc_id, $toks AS w FROM documents),
           |q AS (SELECT doc_id, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |  FROM f),
           |sc AS (SELECT doc_id,
           |  round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |    + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |    + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score FROM q),
           |j AS (SELECT c.rep, c.id, s.quality_score FROM comp c JOIN sc s ON c.id = s.doc_id),
           |r AS (SELECT rep, id, quality_score,
           |  row_number() OVER (PARTITION BY rep ORDER BY quality_score DESC, id ASC) AS rn,
           |  count(*) OVER (PARTITION BY rep) AS csize FROM j)
           |SELECT rep AS cluster_rep, id AS keeper_id, quality_score AS keeper_score,
           |CAST(csize AS BIGINT) AS cluster_size
           |FROM r WHERE rn = 1 ORDER BY cluster_rep""".stripMargin,
      "dedup_embedding_cosine" ->
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine_r
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
          |ORDER BY id_a, id_b""".stripMargin,
      "dedup_embedding_cosine_t90" ->
        // same int8 quantize→dequantize arithmetic as the emb_quant_error
        // oracle (already hash-proven vs the Spark kernel), then brute-force
        // all-pairs cosine at the 0.9 production threshold over
        // originals ∪ dequantized twins
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |  greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
          |           2.2250738585072014e-308) AS scale FROM e),
          |d AS (SELECT vec_id + 10000000 AS vec_id,
          |  list_transform(v, x -> round(x / scale) * scale) AS v FROM s),
          |c AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM d)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |round(list_cosine_similarity(a.v, b.v), 4) AS cosine_r
          |FROM c a JOIN c b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.v, b.v) >= 0.9
          |ORDER BY id_a, id_b""".stripMargin,
      "emb_cross_corpus" ->
        // brute-force cross cosine (twins × originals) at 0.9, best
        // original per twin by (cosine desc, ref id asc) — the
        // specification of the asymmetric sign-bit LSH path; quantize
        // arithmetic identical to the t90/emb_quant_error oracles
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |  greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
          |           2.2250738585072014e-308) AS scale FROM e),
          |d AS (SELECT vec_id + 10000000 AS vec_id,
          |  list_transform(v, x -> round(x / scale) * scale) AS v FROM s),
          |p AS (SELECT d.vec_id AS id_new, e.vec_id AS id_ref,
          |  list_cosine_similarity(d.v, e.v) AS c
          |  FROM d JOIN e ON list_cosine_similarity(d.v, e.v) >= 0.9),
          |r AS (SELECT id_new, id_ref, c,
          |  row_number() OVER (PARTITION BY id_new ORDER BY c DESC, id_ref) AS rn FROM p)
          |SELECT id_new, id_ref AS matched_ref, round(c, 4) AS best_cosine
          |FROM r WHERE rn = 1 ORDER BY id_new""".stripMargin,
      "dedup_semantic" ->
        // the exact leg's unique correct outcome (see the query comment):
        // with twins at cosine ≈ 0.9999 and all cross pairs < 0.62, a 0.9
        // cut with the keep-min rule keeps every original and drops every
        // twin — no similarity computation needed oracle-side
        """SELECT vec_id, CAST(1 AS INT) AS keep_flag FROM embeddings
          |UNION ALL
          |SELECT vec_id + 10000000 AS vec_id, CAST(0 AS INT) AS keep_flag FROM embeddings
          |ORDER BY vec_id""".stripMargin,
      "sim_topk_ivf" ->
        // the exact leg's unique correct outcome (see the query comment):
        // each query's top-1 is its own int8-dequantized twin, with the
        // twin cosine computed by the same quantize arithmetic as the
        // emb_quant_error / emb_cross_corpus oracles
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |           FROM embeddings WHERE vec_id < 20),
          |s AS (SELECT vec_id, v,
          |  greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
          |           2.2250738585072014e-308) AS scale FROM e),
          |d AS (SELECT vec_id, list_transform(v, x -> round(x / scale) * scale) AS deq
          |      FROM s)
          |SELECT e.vec_id AS query_id, CAST(1 AS INT) AS rnk,
          |  e.vec_id + 10000000 AS neighbor_id,
          |  round(list_cosine_similarity(d.deq, e.v), 4) AS cosine_r
          |FROM e JOIN d ON e.vec_id = d.vec_id
          |ORDER BY query_id""".stripMargin,
      "sim_topk_bruteforce" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos FROM q JOIN c ON neighbor_id <> query_id),
          |r AS (SELECT query_id, neighbor_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
          |SELECT query_id, rnk, neighbor_id, round(cos, 4) AS cosine_r FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
      "sim_hard_negatives" ->
        // same brute-force shape as sim_topk_bruteforce with the label
        // predicate INSIDE the join (the retrieve-then-filter trap the
        // scaladoc documents); cosine is the EXPLICIT index-order fold
        // (matches VecDot bit-for-bit) because the k-boundary cut and
        // knn's tie-breaks compare raw doubles — list_cosine_similarity's
        // engine-private summation order is not safe there
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS q_label FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS neg_label FROM embeddings),
          |s AS (SELECT query_id, neighbor_id, neg_label, list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])), (a, x) -> a + x) / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, x) -> a + x)) * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, x) -> a + x))) AS cos
          |      FROM q JOIN c ON neighbor_id <> query_id AND neg_label <> q_label),
          |r AS (SELECT query_id, neighbor_id, neg_label, cos,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
          |SELECT query_id, rnk, neighbor_id, neg_label, round(cos, 4) AS cosine_r
          |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
      "sim_knn_classify" ->
        // top-10 per query among the labeled seed half, then the
        // (votes DESC, best_cos DESC, label ASC) argmax — all exact
        // comparisons
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS nb_label FROM embeddings WHERE vec_id >= 20),
          |s AS (SELECT query_id, neighbor_id, nb_label, list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])), (a, x) -> a + x) / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, x) -> a + x)) * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, x) -> a + x))) AS cos FROM q JOIN c ON neighbor_id <> query_id),
          |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM s),
          |v AS (SELECT query_id, nb_label, count(*) AS votes, max(cos) AS best_cos FROM r WHERE rnk <= 10 GROUP BY 1, 2),
          |p AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, best_cos DESC, nb_label) AS vr FROM v)
          |SELECT query_id, nb_label AS pred_label, votes, round(best_cos, 4) AS top_cosine_r
          |FROM p WHERE vr = 1 ORDER BY query_id""".stripMargin,
      "emb_coreset_kcenter" -> kcenterSql,
      "emb_ivf_drift" -> ivfDriftSql,
      "emb_ivf_recall" -> ivfRecallSql,
      "emb_pq_codes" -> pqCodesSql,
      "emb_pq_topk" -> pqTopkSql,
      "emb_pq_distortion" -> pqDistortionSql,
      "emb_ivfpq_topk" -> ivfPqTopkSql,
      "emb_ivfpq_drift" -> ivfPqDriftSql,
      "docs_cluster_labels" -> clusterLabelsSql,
      "emb_sq8_topk" ->
        // training-free scalar quantization: scale and codes recompute
        // exactly (abs/max exact, one divide, round half-away — both
        // engines), the dot's integer sum is order-free, and the two
        // scale multiplies are stated in the same fixed order as
        // Similarity.sq8TopK: (qs · cs) · Σ
        """WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |sc AS (SELECT vec_id, v,
          |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM corp),
          |enc AS MATERIALIZED (SELECT vec_id, s,
          |    CASE WHEN s = 0 THEN list_transform(v, x -> 0::BIGINT)
          |         ELSE list_transform(v, x -> CAST(round(x / s, 0) AS BIGINT)) END AS c
          |  FROM sc),
          |qs AS (SELECT vec_id AS query_id, s AS q_s, c AS qc FROM enc WHERE vec_id < 20),
          |sco AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          |    (q.q_s * e.s) * CAST(list_sum(list_transform(range(1, len(q.qc) + 1),
          |      i -> q.qc[i] * e.c[i])) AS DOUBLE) AS sqdot
          |  FROM qs q, enc e WHERE e.vec_id <> q.query_id),
          |rk AS (SELECT query_id, neighbor_id, sqdot, row_number() OVER
          |    (PARTITION BY query_id ORDER BY sqdot DESC, neighbor_id ASC) AS rnk FROM sco)
          |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, round(sqdot, 4) AS sqdot_r
          |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
      "emb_hamming_topk" ->
        // 32-bit chunks (DuckDB errors on 1 << 63), chunk = sum of distinct
        // powers of two, distance = Σ bit_count(xor) — all integers, the
        // one ANN oracle needing no determinism machinery at all
        """WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |bits AS (SELECT vec_id, list_transform(range(0, 2), c ->
          |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32),
          |      j -> CASE WHEN v[c*32 + j + 1] > 0 THEN (1::BIGINT << CAST(j AS INT))
          |                ELSE 0::BIGINT END)), (a, b) -> a + b)) AS b
          |  FROM corp),
          |qs AS (SELECT vec_id AS query_id, b AS qb FROM bits WHERE vec_id < 20),
          |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
          |    list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 3),
          |      i -> CAST(bit_count(xor(c.b[i], q.qb[i])) AS BIGINT))),
          |      (x, y) -> x + y) AS hamming
          |  FROM qs q, bits c WHERE c.vec_id <> q.query_id),
          |rk AS (SELECT query_id, neighbor_id, hamming, row_number() OVER
          |    (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS rnk FROM sc)
          |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, hamming
          |FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
      "emb_hamming_refined" ->
        // the hamming CTEs cut to rank <= 40, then an exact index-order
        // dot fold reranks only the candidates (the sim_hard_negatives
        // fold rule — the refined k-boundary compares raw doubles)
        """WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |bits AS (SELECT vec_id, list_transform(range(0, 2), c ->
          |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32),
          |      j -> CASE WHEN v[c*32 + j + 1] > 0 THEN (1::BIGINT << CAST(j AS INT))
          |                ELSE 0::BIGINT END)), (a, b) -> a + b)) AS b
          |  FROM corp),
          |qs AS (SELECT vec_id AS query_id, b AS qb FROM bits WHERE vec_id < 20),
          |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
          |    list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 3),
          |      i -> CAST(bit_count(xor(c.b[i], q.qb[i])) AS BIGINT))),
          |      (x, y) -> x + y) AS hamming
          |  FROM qs q, bits c WHERE c.vec_id <> q.query_id),
          |cand AS (SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id, row_number() OVER
          |      (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS rnk
          |    FROM sc) WHERE rnk <= 40),
          |ex AS (SELECT cd.query_id, cd.neighbor_id,
          |    list_reduce(list_prepend(0.0, list_transform(range(1, len(qv.v) + 1),
          |      i -> qv.v[i] * cv.v[i])), (x, y) -> x + y) AS d
          |  FROM cand cd JOIN corp cv ON cv.vec_id = cd.neighbor_id
          |    JOIN corp qv ON qv.vec_id = cd.query_id),
          |rk2 AS (SELECT query_id, neighbor_id, d, row_number() OVER
          |    (PARTITION BY query_id ORDER BY d DESC, neighbor_id ASC) AS rnk FROM ex)
          |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, round(d, 4) AS dot_r
          |FROM rk2 WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
      "emb_pca_power" -> pcaSql,
      "emb_whiten_residual" -> whitenSql,
      "sim_mmr_select" -> mmrSql,
      "docs_rrf_hybrid" ->
        // text_bm25's exact CTEs feed the lexical ranking (ranks are over
        // the ROUNDED bm25 — the hash-green shared value), dense ranks
        // over cosine to vec 0; fusion keeps 1/(60+rank) in pure doubles.
        // The dense-leg cosine is the explicit index-order fold (NOT
        // list_cosine_similarity) so its bits match bruteForceTopK's
        // VecDot exactly — ranks 1..50 feed the fused score directly, so
        // a last-ulp divergence between the two cosines could flip
        // adjacent dense ranks (same rule as sim_knn_classify)
        s"""WITH base AS (SELECT doc_id, $toks AS w FROM documents),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |       CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl FROM base),
           |tf AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, u.term,
           |       CAST(count(*) AS DOUBLE) AS tf
           |       FROM base, unnest(w) AS u(term)
           |       WHERE u.term IN ('merge', 'window', 'scan')
           |       GROUP BY doc_id, dl, u.term),
           |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           |s AS (SELECT doc_id, term,
           |      ((n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0))
           |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
           |      FROM tf JOIN dfreq USING (term), st),
           |bm AS (SELECT doc_id,
           |round(sum(CASE WHEN term = 'merge' THEN s ELSE 0.0 END)
           |    + sum(CASE WHEN term = 'window' THEN s ELSE 0.0 END)
           |    + sum(CASE WHEN term = 'scan' THEN s ELSE 0.0 END), 4) AS bm25
           |FROM s GROUP BY doc_id),
           |lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
           |        FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50),
           |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
           |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id <> 0),
           |s2 AS (SELECT vec_id, list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])), (a, x) -> a + x) / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, x) -> a + x)) * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, x) -> a + x))) AS cos FROM c, q),
           |den AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rb
           |        FROM s2 ORDER BY cos DESC, vec_id LIMIT 50),
           |f AS (SELECT coalesce(lex.doc_id, den.doc_id) AS doc_id, ra, rb
           |      FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id),
           |sc AS (SELECT doc_id,
           |       coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(ra AS DOUBLE)), CAST(0.0 AS DOUBLE))
           |     + coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(rb AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS sc,
           |       ra, rb FROM f),
           |top AS (SELECT * FROM sc ORDER BY sc DESC, doc_id LIMIT 20)
           |SELECT doc_id, round(sc, 6) AS rrf_score_r,
           |CAST(coalesce(ra, -1) AS BIGINT) AS rank_0, CAST(coalesce(rb, -1) AS BIGINT) AS rank_1
           |FROM top ORDER BY doc_id""".stripMargin,
      "emb_quant_error" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |  greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
          |           2.2250738585072014e-308) AS scale FROM e),
          |q AS (SELECT vec_id, v, scale,
          |  list_transform(v, x -> round(x / scale) * scale) AS deq FROM s)
          |SELECT vec_id, round(scale, 6) AS scale_r,
          |round(list_max(list_transform(range(1, len(v) + 1),
          |  i -> abs(deq[i] - v[i]))), 6) AS max_err_r,
          |round(list_cosine_similarity(deq, v), 4) AS cos_r
          |FROM q ORDER BY vec_id""".stripMargin,
      "text_token_stats" ->
        // CAST(sum(...) AS BIGINT): DuckDB sum(BIGINT) is HUGEINT, which pandas
        // renders float64 ("99111.0") and breaks the driver's string hash.
        s"""SELECT lang, count(*) AS n_docs, CAST(sum(len($toks)) AS BIGINT) AS sum_tokens,
           |CAST(sum(len($subw)) AS BIGINT) AS sum_subwords, round(avg(len($toks)), 4) AS avg_tokens
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
      "text_langid" ->
        s"""WITH s AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
           |sc AS (SELECT doc_id, lang,
           |  len(list_filter(w, x -> list_contains(${markers(mk("en"))}, x))) AS s_en,
           |  len(list_filter(w, x -> list_contains(${markers(mk("fr"))}, x))) AS s_fr,
           |  len(list_filter(w, x -> list_contains(${markers(mk("es"))}, x))) AS s_es,
           |  len(list_filter(w, x -> list_contains(${markers(mk("de"))}, x))) AS s_de,
           |  len(list_filter(w, x -> list_contains(${markers(mk("zh"))}, x))) AS s_zh FROM s)
           |SELECT doc_id, lang, CASE
           |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
           |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
           |  WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred
           |FROM sc ORDER BY doc_id""".stripMargin,
      "text_langid_confusion" ->
        // the text_langid prediction CTEs + an (actual, predicted) census
        s"""WITH s AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
           |sc AS (SELECT doc_id, lang,
           |  len(list_filter(w, x -> list_contains(${markers(mk("en"))}, x))) AS s_en,
           |  len(list_filter(w, x -> list_contains(${markers(mk("fr"))}, x))) AS s_fr,
           |  len(list_filter(w, x -> list_contains(${markers(mk("es"))}, x))) AS s_es,
           |  len(list_filter(w, x -> list_contains(${markers(mk("de"))}, x))) AS s_de,
           |  len(list_filter(w, x -> list_contains(${markers(mk("zh"))}, x))) AS s_zh FROM s),
           |p AS (SELECT lang, CASE
           |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
           |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
           |  WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred FROM sc)
           |SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY lang, lang_pred
           |ORDER BY lang, lang_pred""".stripMargin,
      "text_quality" ->
        s"""WITH f AS (SELECT doc_id, $toks AS w, $subw AS sw, length(text) AS nc FROM documents),
           |g AS (SELECT doc_id, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(sw, x -> regexp_matches(x, '^[^A-Za-z0-9]$$'))) * 1.0 / greatest(len(sw), 1), 4) AS punct_ratio,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f)
           |SELECT doc_id, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g ORDER BY doc_id""".stripMargin,
      // classifier training replayed round-for-round; apply census under
      // the final weights; DSIR bucket model + selection — all exact
      // arithmetic, chained-CTE loops where iterative (OracleClassifierSql)
      "docs_classifier_train" -> OracleClassifierSql.weightsSql(),
      "docs_classifier_apply" -> OracleClassifierSql.applySql(),
      "docs_classifier_train_sampled" ->
        OracleClassifierSql.sampledApplySql(shardSql = sampledShardSql),
      "docs_classifier_calibration" -> OracleClassifierSql.calibrationSql(),
      "docs_classifier_multiclass" ->
        OracleClassifierSql.multiclassSql(multiclassClasses, iters = 24),
      "docs_classifier_multiclass_apply" ->
        // the relational-seam twin is bit-identical to the in-memory
        // path by construction (classifierPredictWith spec), so it
        // replays the SAME 3×24-round training + argmax census — one
        // oracle, two execution paths, both must land on its hash
        OracleClassifierSql.multiclassSql(multiclassClasses, iters = 24),
      "docs_dsir_lift" -> OracleClassifierSql.liftSql(),
      "docs_dsir_select" -> OracleClassifierSql.selectSql(),
      "docs_dsir_resample" -> OracleClassifierSql.resampleSql(),
      "docs_dsir_lift2" -> OracleClassifierSql.liftSql(maxN = 2),
      "docs_dsir_select2" -> OracleClassifierSql.selectSql(maxN = 2),
      "docs_score_drift" ->
        // the text_quality CTE chain (same rounding points), then
        // integer-cent buckets, per-side counts, full-outer census join,
        // IEEE-double ratio delta in ppm — no ln, no smoothing
        s"""WITH f AS (SELECT doc_id, $toks AS w, $subw AS sw FROM documents),
           |g AS (SELECT doc_id, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id,
           |  round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |    + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |    + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS s
           |  FROM g),
           |hr AS (SELECT CAST(round(round(s, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
           |       FROM q WHERE doc_id % 2 = 0 GROUP BY 1),
           |hc AS (SELECT CAST(round(round(s, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
           |       FROM q WHERE doc_id % 2 = 1 GROUP BY 1),
           |tot AS (SELECT (SELECT sum(n) FROM hr) AS tr, (SELECT sum(n) FROM hc) AS tc)
           |SELECT coalesce(hr.bucket, hc.bucket) AS bucket,
           |  CAST(coalesce(hr.n, 0) AS BIGINT) AS n_ref,
           |  CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cur,
           |  round(abs(CAST(coalesce(hr.n, 0) AS DOUBLE) / tr
           |    - CAST(coalesce(hc.n, 0) AS DOUBLE) / tc) * 1e6, 4) AS d_ppm
           |FROM hr FULL OUTER JOIN hc ON hr.bucket = hc.bucket, tot
           |ORDER BY bucket""".stripMargin,
      "docs_score_drift_by_source" ->
        // the grouped census: per-(lang, bucket) counts, per-lang totals,
        // guarded zero-share divide for the planted vanished source (the
        // current side drops zh, so zh's reference mass reads as maximal
        // drift — the CASE both engines state identically)
        s"""WITH f AS (SELECT doc_id, lang, $toks AS w FROM documents),
           |g AS (SELECT doc_id, lang, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, lang,
           |  round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |    + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |    + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS s
           |  FROM g),
           |hr AS (SELECT lang, CAST(round(round(s, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
           |       FROM q WHERE doc_id % 2 = 0 GROUP BY 1, 2),
           |hc AS (SELECT lang, CAST(round(round(s, 2) * 100, 0) AS INT) AS bucket, count(*) AS n
           |       FROM q WHERE doc_id % 2 = 1 AND lang <> 'zh' GROUP BY 1, 2),
           |tr AS (SELECT lang, sum(n) AS t FROM hr GROUP BY lang),
           |tc AS (SELECT lang, sum(n) AS t FROM hc GROUP BY lang),
           |cen AS (SELECT coalesce(hr.lang, hc.lang) AS lang,
           |  coalesce(hr.bucket, hc.bucket) AS bucket,
           |  CAST(coalesce(hr.n, 0) AS BIGINT) AS n_ref,
           |  CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cur
           |  FROM hr FULL OUTER JOIN hc ON hr.lang = hc.lang AND hr.bucket = hc.bucket)
           |SELECT cen.lang, bucket, n_ref, n_cur,
           |  round(abs(
           |    (CASE WHEN tr.t IS NULL OR tr.t = 0 THEN 0.0 ELSE CAST(n_ref AS DOUBLE) / tr.t END)
           |    - (CASE WHEN tc.t IS NULL OR tc.t = 0 THEN 0.0 ELSE CAST(n_cur AS DOUBLE) / tc.t END)) * 1e6, 4) AS d_ppm
           |FROM cen LEFT JOIN tr ON tr.lang = cen.lang LEFT JOIN tc ON tc.lang = cen.lang
           |ORDER BY cen.lang, bucket""".stripMargin,
      "docs_source_digest" ->
        // the identical 60-bit md5 row hash, natively: DuckDB parses the
        // same 15 hex chars Spark conv()s, sums in HUGEINT (exact, like
        // Spark's decimal(38,0)), renders as VARCHAR — digit-identical
        """SELECT source, count(*) AS n_rows,
          |  CAST(sum(CAST(('0x' || substr(md5(concat_ws(chr(1),
          |    CAST(doc_id AS VARCHAR), text, lang, source,
          |    CAST(n_chars AS VARCHAR))), 1, 15)) AS BIGINT)::HUGEINT) AS VARCHAR) AS digest
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,
      "src_format_census" ->
        // the census is format-INVARIANT: DuckDB computes it ONCE from
        // the parquet table (the same 60-bit md5 row-hash decimal sum as
        // docs_source_digest) and replicates it under each format label —
        // Spark's per-reader legs must all land on these exact values.
        // The label list renders from FormatMatrix.formats (the enMarkers
        // single-source rule): adding a reader leg on the Spark side
        // grows the oracle's row set in the same commit, never out of step
        ("""WITH c AS (SELECT count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  count(DISTINCT lang) AS n_langs,
          |  min(doc_id) AS id_min, max(doc_id) AS id_max,
          |  CAST(sum(CAST(('0x' || substr(md5(concat_ws(chr(1),
          |    CAST(doc_id AS VARCHAR), text, lang, source,
          |    CAST(n_chars AS VARCHAR))), 1, 15)) AS BIGINT)::HUGEINT) AS VARCHAR) AS digest
          |  FROM documents)
          |SELECT f.format, c.n_docs, c.sum_chars, c.n_langs, c.id_min, c.id_max, c.digest
          |FROM (VALUES """.stripMargin +
          graft.sources.FormatMatrix.formats.map(f => s"('$f')").mkString(", ") +
          """) AS f(format), c
            |ORDER BY f.format""".stripMargin),
      "docs_boilerplate" ->
        // census on the RAW prefix string — a Spark-side fingerprint
        // collision would surface as a count mismatch, loudly; the
        // planted template header replayed in the aug CTE
        s"""WITH aug AS (SELECT doc_id, lang,
           |  CASE WHEN doc_id % 4 = 0 THEN 'site nav home about ' || text ELSE text END AS text
           |  FROM documents),
           |toks AS (SELECT doc_id, lang, $toks AS w FROM aug),
           |p AS (SELECT doc_id, lang, array_to_string(w[1:4], ' ') AS prefix FROM toks),
           |c AS (SELECT lang, prefix, count(*) AS prefix_df FROM p GROUP BY 1, 2)
           |SELECT p.doc_id, p.lang, CAST(c.prefix_df AS BIGINT) AS prefix_df,
           |  c.prefix_df >= 3 AS is_boilerplate
           |FROM p JOIN c ON p.lang = c.lang AND p.prefix = c.prefix
           |ORDER BY p.doc_id""".stripMargin,
      "text_fingerprint" ->
        """SELECT doc_id, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin,
      "docs_split_assign" ->
        // same rolling-hash fold as the text_fingerprint oracle, mod 100
        """WITH f AS (SELECT doc_id, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) % 100 AS bucket
          |FROM documents)
          |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
          |CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
          |FROM f ORDER BY doc_id""".stripMargin,
      "docs_chunk" ->
        // list-form generate_series (lateral-unnested) has the same
        // inclusive-stop semantics as Spark's sequence(); the stop bound
        // min(len, len-size+stride)-1 emits a chunk only when it adds new
        // characters; substr past the end truncates in both engines
        """SELECT doc_id, CAST(s // 90 AS BIGINT) AS chunk_id,
          |CAST(s AS BIGINT) AS chunk_start,
          |substr(text, CAST(s AS INT) + 1, 120) AS chunk_text,
          |CAST(length(substr(text, CAST(s AS INT) + 1, 120)) AS BIGINT) AS chunk_len
          |FROM documents, unnest(generate_series(0,
          |  greatest(least(length(text), length(text) - 120 + 90) - 1, 0), 90)) AS g(s)
          |ORDER BY doc_id, chunk_id""".stripMargin,
      "docs_split_leakage" ->
        // the docs_split_assign bucket fold gates the text_decontaminate
        // containment CTEs: train grams = bucket < 90, probes = the rest
        s"""WITH f AS (SELECT doc_id, text, list_reduce(
           |  list_prepend(CAST(0 AS BIGINT),
           |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
           |  (h, c) -> (h * 31 + c) % 1000000007) % 100 AS bucket FROM documents),
           |t AS (SELECT doc_id, bucket, $toks AS w FROM f),
           |grams AS (SELECT DISTINCT doc_id, bucket, array_to_string(w[i:i+2], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
           |train AS (SELECT DISTINCT g FROM grams WHERE bucket < 90),
           |c AS (SELECT doc_id, count(*) AS n_grams,
           |      count(*) FILTER (g IN (SELECT g FROM train)) AS train_hits
           |      FROM grams WHERE bucket >= 90 GROUP BY doc_id)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |CAST(train_hits AS BIGINT) AS train_hits,
           |round(train_hits * 1.0 / greatest(n_grams, 1), 4) AS containment
           |FROM c ORDER BY doc_id""".stripMargin,
      "text_decontaminate" ->
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
           |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10),
           |c AS (SELECT doc_id, count(*) AS n_grams,
           |      count(*) FILTER (g IN (SELECT g FROM bench)) AS bench_hits
           |      FROM grams GROUP BY doc_id)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |CAST(bench_hits AS BIGINT) AS bench_hits,
           |round(bench_hits * 1.0 / greatest(n_grams, 1), 4) AS containment
           |FROM c ORDER BY doc_id""".stripMargin,
      "text_decontaminate_bloom" ->
        // same exact CTEs; the Bloom leg's contract (no false negatives →
        // bloom_hits ≥ bench_hits) is the constant-true verdict column
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
           |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10),
           |c AS (SELECT doc_id, count(*) AS n_grams,
           |      count(*) FILTER (g IN (SELECT g FROM bench)) AS bench_hits
           |      FROM grams GROUP BY doc_id)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |CAST(bench_hits AS BIGINT) AS bench_hits, true AS bloom_superset_ok
           |FROM c ORDER BY doc_id""".stripMargin,
      "text_repetition" ->
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |g AS (SELECT doc_id, greatest(len(w) - 1, 1) AS total,
           |  len(list_distinct(list_transform(
           |    generate_series(1, greatest(len(w) - 1, 1)),
           |    i -> array_to_string(w[i:i+1], ' ')))) AS dist
           |  FROM t)
           |SELECT doc_id, round(1.0 - dist * 1.0 / total, 4) AS rep_ratio
           |FROM g ORDER BY doc_id""".stripMargin,
      "text_normalize" ->
        // same regexp chain, RE2∩Java common-subset patterns; DuckDB needs
        // the explicit 'g' flag (Java replaces all matches by default)
        """SELECT doc_id, trim(regexp_replace(
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(lower(text), '<[^>]*>', ' ', 'g'),
          |      'https?://[^ \t\n\x0b\f\r]+', '[url]', 'g'),
          |    '[a-z0-9._%+-]+@[a-z0-9.-]+', '[email]', 'g'),
          |  '[\x00-\x1f]', ' ', 'g'),
          |'\s+', ' ', 'g')) AS norm_text
          |FROM documents ORDER BY doc_id""".stripMargin,
      "text_pack_bins" ->
        s"""WITH t AS (SELECT lang, doc_id, len($toks) AS n_tokens FROM documents),
           |c AS (SELECT lang, doc_id, n_tokens,
           |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, n_tokens ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM t)
           |SELECT lang, CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS bin,
           |count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
           |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
      "docs_curation_pipeline" ->
        // the composed stages, each reproduced verbatim from its
        // individually-proven oracle fragment
        """WITH n AS (SELECT doc_id, lang, trim(regexp_replace(
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(lower(text), '<[^>]*>', ' ', 'g'),
          |      'https?://[^ \t\n\x0b\f\r]+', '[url]', 'g'),
          |    '[a-z0-9._%+-]+@[a-z0-9.-]+', '[email]', 'g'),
          |  '[\x00-\x1f]', ' ', 'g'),
          |'\s+', ' ', 'g')) AS norm FROM documents),
          |q AS (SELECT * FROM n WHERE len(string_split_regex(trim(norm), '\s+')) >= 5),
          |fp AS (SELECT doc_id, lang, norm, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(norm) + 1), i -> CAST(ascii(substr(norm, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) AS f FROM q),
          |s AS (SELECT * FROM fp WHERE f % 1000 <
          |  CASE lang WHEN 'en' THEN 600 ELSE 800 END),
          |d AS (SELECT * FROM s WHERE doc_id IN
          |  (SELECT min(doc_id) FROM s GROUP BY norm))
          |SELECT doc_id, lang,
          |CASE WHEN f % 100 < 90 THEN 'train' WHEN f % 100 < 95 THEN 'val' ELSE 'test' END AS split,
          |CAST(len(string_split_regex(trim(norm), '\s+')) AS BIGINT) AS n_tokens
          |FROM d ORDER BY doc_id""".stripMargin,
      "docs_sample_stratified" ->
        // same rolling-hash fold as the text_fingerprint oracle, mod 1000,
        // against the per-language per-mille keep rates
        """WITH f AS (SELECT doc_id, lang, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) % 1000 AS b
          |FROM documents)
          |SELECT doc_id, lang, CAST(b AS BIGINT) AS bucket FROM f
          |WHERE b < CASE lang WHEN 'en' THEN 200 WHEN 'fr' THEN 400 WHEN 'es' THEN 400
          |                    WHEN 'de' THEN 600 WHEN 'zh' THEN 600 ELSE 300 END
          |ORDER BY doc_id""".stripMargin,
      "docs_weighted_sample" ->
        // priority sampling replay: same rolling-hash fold; the priority
        // w·M/u is one exact double multiply + one IEEE divide, so the
        // top-101 boundary and τ are bit-identical across engines
        """WITH f AS (SELECT doc_id, lang, n_chars, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) AS fp FROM documents),
          |p AS (SELECT doc_id, lang, n_chars,
          |  CAST(n_chars AS DOUBLE) * 1000003.0 / CAST(fp % 1000003 + 1 AS DOUBLE) AS pr FROM f),
          |t AS MATERIALIZED (SELECT * FROM p ORDER BY pr DESC, doc_id LIMIT 101),
          |tau AS (SELECT CASE WHEN count(*) = 101 THEN min(pr) ELSE 0.0 END AS tau FROM t),
          |s AS (SELECT * FROM t ORDER BY pr DESC, doc_id LIMIT 100)
          |SELECT doc_id, lang, n_chars, round(pr, 4) AS priority_r,
          |round(greatest(CAST(n_chars AS DOUBLE), tau), 4) AS est_w_r
          |FROM s, tau ORDER BY doc_id""".stripMargin,
      "docs_weighted_sample_by" ->
        // the per-group replay: same fingerprint fold and priority
        // arithmetic, per-language rank/τ instead of the global top-101
        """WITH f AS (SELECT doc_id, lang, n_chars, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) AS fp FROM documents),
          |p AS (SELECT doc_id, lang, n_chars,
          |  CAST(n_chars AS DOUBLE) * 1000003.0 / CAST(fp % 1000003 + 1 AS DOUBLE) AS pr FROM f),
          |t AS MATERIALIZED (SELECT *, row_number() OVER
          |  (PARTITION BY lang ORDER BY pr DESC, doc_id) AS rk FROM p),
          |top AS (SELECT * FROM t WHERE rk <= 21),
          |tau AS (SELECT lang, CASE WHEN count(*) = 21 THEN min(pr) ELSE 0.0 END AS tau
          |        FROM top GROUP BY lang),
          |s AS (SELECT * FROM top WHERE rk <= 20)
          |SELECT s.doc_id, s.lang, s.n_chars, round(pr, 4) AS priority_r,
          |round(greatest(CAST(n_chars AS DOUBLE), tau), 4) AS est_w_r
          |FROM s JOIN tau USING (lang) ORDER BY doc_id""".stripMargin,
      "text_tfidf" ->
        // score = tf/df (rational, IEEE-exact division) — see
        // TextAnalysis.topTermsPerDoc for why there is deliberately no ln()
        s"""WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
           |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |s AS (SELECT doc_id, term, tf, df, tf * 1.0 / df AS score FROM tf JOIN dfreq USING (term)),
           |r AS (SELECT doc_id, term, tf, df, score,
           |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM s)
           |SELECT doc_id, rnk, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           |round(score, 4) AS score_r
           |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
      "text_dup_spans" ->
        // positioned 5-grams; a gram in >=2 distinct docs marks all its
        // positions duplicated (same construction as Dedup.duplicatedSpans:
        // Spark sequence(0, size-n) == generate_series(0, len-n), both
        // inclusive; Spark slice(w, i+1, n) == w[i+1:i+n] 1-based)
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |ex AS (SELECT doc_id, i AS pos, array_to_string(w[i+1:i+5], ' ') AS gram
           |       FROM t, unnest(generate_series(0, len(w) - 5)) AS u(i)
           |       WHERE len(w) >= 5),
           |dup AS (SELECT gram FROM ex GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |dp AS (SELECT doc_id, count(*) AS n_dup, min(pos) AS first_dup_pos
           |       FROM ex JOIN dup USING (gram) GROUP BY doc_id),
           |tot AS (SELECT doc_id, greatest(len(w) - 4, 0) AS n_grams FROM t)
           |SELECT tot.doc_id, CAST(n_grams AS INT) AS n_grams,
           |CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
           |round(CAST(coalesce(n_dup, 0) AS DOUBLE) / greatest(n_grams, 1), 4) AS dup_ratio,
           |CAST(coalesce(first_dup_pos, -1) AS INT) AS first_dup_pos
           |FROM tot LEFT JOIN dp USING (doc_id) ORDER BY doc_id""".stripMargin,
      "text_dup_spans_removed" ->
        // same flagging CTEs as text_dup_spans; then covered positions
        // (span explode), anti-join tokens, position-ordered reassembly
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |ex AS (SELECT doc_id, i AS pos, array_to_string(w[i+1:i+5], ' ') AS gram
           |       FROM t, unnest(generate_series(0, len(w) - 5)) AS u(i)
           |       WHERE len(w) >= 5),
           |dup AS (SELECT gram FROM ex GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |cov AS (SELECT DISTINCT doc_id, pos + j AS t
           |        FROM ex JOIN dup USING (gram), unnest(generate_series(0, 4)) AS v(j)),
           |tokpos AS (SELECT doc_id, i - 1 AS t, w[i] AS tok
           |           FROM t, unnest(generate_series(1, len(w))) AS u(i)),
           |kept AS (SELECT doc_id, count(*) AS n_kept,
           |         string_agg(tok, ' ' ORDER BY t) AS text_clean
           |         FROM tokpos ANTI JOIN cov USING (doc_id, t)
           |         GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(w) AS INT) AS n_tokens,
           |CAST(len(w) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
           |coalesce(text_clean, '') AS text_clean
           |FROM t LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,
      "text_winnowing" -> OracleHashSql.winnowingSql(),
      "text_winnowing_matches" -> OracleHashSql.winnowMatchesSql(),
      "text_winnowing_cross" -> OracleHashSql.winnowCrossSql(),
      "text_remove_spans_cross" ->
        // same construction, but the dup-gram set comes from the even-id
        // REFERENCE half only (the prebuilt-index semantics); coverage
        // and reassembly run over every document
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |ex AS (SELECT doc_id, i AS pos, array_to_string(w[i+1:i+5], ' ') AS gram
           |       FROM t, unnest(generate_series(0, len(w) - 5)) AS u(i)
           |       WHERE len(w) >= 5),
           |dup AS (SELECT gram FROM ex WHERE doc_id % 2 = 0
           |        GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |cov AS (SELECT DISTINCT doc_id, pos + j AS t
           |        FROM ex JOIN dup USING (gram), unnest(generate_series(0, 4)) AS v(j)),
           |tokpos AS (SELECT doc_id, i - 1 AS t, w[i] AS tok
           |           FROM t, unnest(generate_series(1, len(w))) AS u(i)),
           |kept AS (SELECT doc_id, count(*) AS n_kept,
           |         string_agg(tok, ' ' ORDER BY t) AS text_clean
           |         FROM tokpos ANTI JOIN cov USING (doc_id, t)
           |         GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(w) AS INT) AS n_tokens,
           |CAST(len(w) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
           |coalesce(text_clean, '') AS text_clean
           |FROM t LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,
      "text_bm25" ->
        // same arithmetic, same parenthesization, same fixed-order
        // term-wise summation as TextAnalysis.bm25Score — every float op
        // is IEEE-identical so round(,4) compares hash-exact
        s"""WITH base AS (SELECT doc_id, $toks AS w FROM documents),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |       CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl FROM base),
           |tf AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, u.term,
           |       CAST(count(*) AS DOUBLE) AS tf
           |       FROM base, unnest(w) AS u(term)
           |       WHERE u.term IN ('merge', 'window', 'scan')
           |       GROUP BY doc_id, dl, u.term),
           |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
           |s AS (SELECT doc_id, term,
           |      ((n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0))
           |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
           |      FROM tf JOIN dfreq USING (term), st)
           |SELECT doc_id,
           |round(sum(CASE WHEN term = 'merge' THEN s ELSE 0.0 END)
           |    + sum(CASE WHEN term = 'window' THEN s ELSE 0.0 END)
           |    + sum(CASE WHEN term = 'scan' THEN s ELSE 0.0 END), 4) AS bm25,
           |count(*) AS n_hit_terms
           |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "docs_shuffle_shards" ->
        // same rolling-hash fold as text_fingerprint, salted; rank within
        // shard ordered by (hash, id)
        """WITH f AS (SELECT doc_id, list_reduce(
          |  list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text || ':shuffle-v1') + 1),
          |      i -> CAST(ascii(substr(text || ':shuffle-v1', i, 1)) AS BIGINT))),
          |  (h, c) -> (h * 31 + c) % 1000000007) AS fp
          |FROM documents),
          |s AS (SELECT doc_id, fp, fp % 8 AS shard FROM f)
          |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
          |CAST(row_number() OVER (PARTITION BY shard ORDER BY fp, doc_id) AS INT) AS pos
          |FROM s ORDER BY shard, pos""".stripMargin,
      "docs_length_histogram" ->
        """SELECT lang,
          |CAST(least(floor(CAST(n_chars AS DOUBLE) / 100), 9) AS INT) AS bucket,
          |count(*) AS n_docs
          |FROM documents GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
      "text_top_ngrams" ->
        s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+1], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-1, 1))) AS u(i)),
           |c AS (SELECT g, count(*) AS doc_freq FROM grams GROUP BY g)
           |SELECT g, CAST(doc_freq AS BIGINT) AS doc_freq FROM c
           |ORDER BY doc_freq DESC, g LIMIT 20""".stripMargin,
      "text_cms_heavy" ->
        // both sketches replayed natively: same md5 (lane, token) bucket
        // hash, same (j, bucket) counters, same min-over-lanes point
        // query — DuckDB computes the identical sketches, no closed form
        s"""WITH tok AS (SELECT unnest($toks) AS w FROM documents),
           |exact AS (SELECT w, count(*) AS n_exact FROM tok GROUP BY w
           |          ORDER BY n_exact DESC, w LIMIT 20),
           |cnt AS (SELECT j, CAST(('0x' || substr(md5(concat_ws(chr(1), CAST(j AS VARCHAR), w)), 1, 15)) AS BIGINT) % 1024 AS bucket,
           |          count(*) AS n
           |        FROM tok, range(0, 4) r(j) GROUP BY 1, 2),
           |cntn AS (SELECT j, CAST(('0x' || substr(md5(concat_ws(chr(1), CAST(j AS VARCHAR), w)), 1, 15)) AS BIGINT) % 16 AS bucket,
           |          count(*) AS n
           |        FROM tok, range(0, 4) r(j) GROUP BY 1, 2),
           |probe AS (SELECT e.w, r.j,
           |    CAST(('0x' || substr(md5(concat_ws(chr(1), CAST(r.j AS VARCHAR), e.w)), 1, 15)) AS BIGINT) AS h
           |  FROM exact e, range(0, 4) r(j)),
           |est AS (SELECT p.w, min(coalesce(c.n, 0)) AS n_cms
           |        FROM probe p LEFT JOIN cnt c ON c.j = p.j AND c.bucket = p.h % 1024
           |        GROUP BY p.w),
           |estn AS (SELECT p.w, min(coalesce(c.n, 0)) AS n_cms16
           |        FROM probe p LEFT JOIN cntn c ON c.j = p.j AND c.bucket = p.h % 16
           |        GROUP BY p.w)
           |SELECT e.w, e.n_exact, CAST(s.n_cms AS BIGINT) AS n_cms,
           |  CAST(s.n_cms - e.n_exact AS BIGINT) AS overcount,
           |  CAST(sn.n_cms16 AS BIGINT) AS n_cms16,
           |  CAST(sn.n_cms16 - e.n_exact AS BIGINT) AS overcount16
           |FROM exact e JOIN est s ON s.w = e.w JOIN estn sn ON sn.w = e.w
           |ORDER BY n_exact DESC, e.w""".stripMargin,
      "events_scd2" ->
        // gaps-and-islands replay: change flags, running run numbers,
        // per-run collapse, lead() closes each interval; per-event floor
        // BEFORE min matches Spark's unix_timestamp-then-min order
        """WITH o AS (SELECT user_id, event_type, ts, event_id,
          |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
          |c AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg FROM o),
          |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run FROM c),
          |g AS (SELECT user_id, run, event_type,
          |      min(CAST(floor(epoch(ts)) AS BIGINT)) AS valid_from, count(*) AS n_events
          |      FROM r GROUP BY 1, 2, 3)
          |SELECT user_id, CAST(run AS BIGINT) AS seq, event_type, valid_from,
          |CAST(coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run), -1) AS BIGINT) AS valid_to,
          |CAST(n_events AS BIGINT) AS n_events
          |FROM g ORDER BY user_id, seq""".stripMargin,
      "events_attribution" ->
        // the same one-window replay: conditional struct extrema over a
        // seconds-keyed RANGE frame (struct comparison is lexicographic in
        // both engines — ties at one ts break by event_id, verified by the
        // repo's struct-extremum convention), conversions filtered after
        """WITH e AS (SELECT event_id, user_id, event_type,
          |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
          |x AS (SELECT event_id, user_id, event_type, ts_s,
          |  min(CASE WHEN event_type IN ('view', 'click')
          |      THEN {'t': ts_s, 'id': event_id} END) OVER
          |    (PARTITION BY user_id ORDER BY ts_s
          |     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS f,
          |  max(CASE WHEN event_type IN ('view', 'click')
          |      THEN {'t': ts_s, 'id': event_id} END) OVER
          |    (PARTITION BY user_id ORDER BY ts_s
          |     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS l
          |  FROM e)
          |SELECT event_id AS conv_id, user_id, ts_s AS conv_ts_s,
          |  CAST(coalesce(f.id, -1) AS BIGINT) AS first_touch_id,
          |  CAST(coalesce(f.t, -1) AS BIGINT) AS first_touch_ts_s,
          |  CAST(coalesce(l.id, -1) AS BIGINT) AS last_touch_id,
          |  CAST(coalesce(l.t, -1) AS BIGINT) AS last_touch_ts_s
          |FROM x WHERE event_type = 'purchase' ORDER BY conv_id""".stripMargin,
      "events_tumbling" ->
        """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start, event_type,
          |count(*) AS n_events, round(sum("value"), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
      "events_sessions" ->
        """WITH x AS (SELECT user_id, ts,
          |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
          |       THEN 1 ELSE 0 END AS new_s FROM events),
          |y AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x)
          |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
          |CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS session_end, count(*) AS n_events
          |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
      "events_props_json" ->
        """SELECT event_type, count(*) AS n,
          |CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
          |CAST(max(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "events_running" ->
        """SELECT user_id, event_id,
          |round(sum("value") OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 2) AS running_value,
          |row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
          |FROM events ORDER BY user_id, seq""".stripMargin,
      "events_funnel" ->
        // same gaps-and-islands session construction as the events_sessions
        // oracle, plus conditional min/max for the ordered-sequence test
        """WITH x AS (SELECT user_id, ts, event_type,
          |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
          |       THEN 1 ELSE 0 END AS new_s FROM events),
          |y AS (SELECT user_id, ts, event_type,
          |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x),
          |s AS (SELECT user_id, sid, min(ts) AS t0,
          |  min(ts) FILTER (event_type = 'view') AS fv,
          |  max(ts) FILTER (event_type = 'purchase') AS lp,
          |  count(*) AS n_events FROM y GROUP BY user_id, sid)
          |SELECT user_id, CAST(floor(epoch(t0)) AS BIGINT) AS session_start,
          |CAST(fv IS NOT NULL AND lp IS NOT NULL AND fv < lp AS INT) AS converted,
          |n_events FROM s ORDER BY user_id, session_start""".stripMargin,
      "events_neighbors" ->
        """SELECT user_id, event_id,
          |lag(event_type, 1) OVER w AS prev_type,
          |lead(event_type, 1) OVER w AS next_type,
          |CAST(floor(epoch(ts)) - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w AS BIGINT) AS gap_secs
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |ORDER BY user_id, event_id""".stripMargin,
      "events_sliding_1h" ->
        // RANGE frame over epoch seconds; integer cents keep the sliding
        // sum engine-order-proof (see Events.slidingValueSum)
        """SELECT user_id, event_id,
          |CAST(sum(CAST(round("value" * 100) AS BIGINT)) OVER (
          |  PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
          |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_1h
          |FROM events ORDER BY user_id, event_id""".stripMargin,
      "q01_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
          |round(sum(l_extendedprice), 2) AS sum_base_price,
          |round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          |round(avg(l_quantity), 4) AS avg_qty, count(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q03_shipping_priority" ->
        """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
      "q05_revenue_by_nation" ->
        """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin,
      "q05_salted" -> // salting must not change the result: same oracle as q05
        """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin,
      "q13_custdist" ->
        """SELECT CAST(c_count AS BIGINT) AS c_count, CAST(count(*) AS BIGINT) AS custdist FROM
          |(SELECT c_custkey, count(o_orderkey) AS c_count
          | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          | GROUP BY c_custkey)
          |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
      "q_sortmerge_join" ->
        """SELECT o_orderpriority, count(*) AS n_items,
          |round(sum(l_extendedprice), 2) AS total_price
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q17_small_qty_revenue" ->
        // the correlated-subquery form — DuckDB decorrelates it into the
        // same agg+join the Spark side declares directly
        """SELECT p_brand, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
          |count(*) AS n_items
          |FROM lineitem l1 JOIN part ON p_partkey = l_partkey
          |WHERE p_brand IN ('Brand#2', 'Brand#4')
          |AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
          |                  WHERE l2.l_partkey = l1.l_partkey)
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
      "emb_mean_pool" ->
        // sorted left fold with a 0.0 seed == Spark's
        // aggregate(array_sort(collect_list(x)), 0.0, +) — identical
        // summation order, so the rounded means are bit-exact
        """WITH e AS (SELECT vec_id % 8 AS grp, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |x AS (SELECT grp, i - 1 AS pos, v[i] AS val
          |      FROM e, unnest(generate_series(1, len(v))) AS u(i))
          |SELECT CAST(grp AS BIGINT) AS grp, CAST(pos AS BIGINT) AS pos,
          |round(list_reduce(list_prepend(0.0, list_sort(list(val))), (a, b) -> a + b)
          |      / count(*), 4) AS mean_r
          |FROM x GROUP BY grp, pos ORDER BY grp, pos""".stripMargin,
      "q_window_rank" ->
        """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM
          |(SELECT o_orderpriority, o_orderkey, o_totalprice,
          |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
          | FROM orders)
          |WHERE rk <= 5 ORDER BY o_orderpriority, rk""".stripMargin,
      "q_set_except" ->
        """SELECT nationkey FROM
          |(SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
          | EXCEPT SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000)
          |ORDER BY nationkey""".stripMargin,
      "q_set_except_all" ->
        """SELECT nationkey, count(*) AS n FROM (
          |  SELECT c_nationkey AS nationkey FROM customer
          |  EXCEPT ALL
          |  SELECT s_nationkey FROM supplier)
          |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
      "q_set_intersect_all" ->
        """SELECT nationkey, count(*) AS n FROM (
          |  SELECT c_nationkey AS nationkey FROM customer
          |  INTERSECT ALL
          |  SELECT s_nationkey FROM supplier)
          |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
      "q_union_all" ->
        """SELECT nationkey, role, count(*) AS n FROM (
          |  SELECT c_nationkey AS nationkey, 'customer' AS role FROM customer
          |  UNION ALL
          |  SELECT s_nationkey AS nationkey, 'supplier' AS role FROM supplier)
          |GROUP BY nationkey, role ORDER BY nationkey, role""".stripMargin,
      "q_window_ntile" ->
        """SELECT o_custkey, o_orderkey,
          |ntile(4) OVER w AS quartile,
          |round(percent_rank() OVER w, 6) AS pct_rank
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
          |QUALIFY quartile = 1
          |ORDER BY o_custkey, pct_rank, o_orderkey""".stripMargin,
      "q_anti_join" ->
        """SELECT c_mktsegment, count(*) AS n_customers FROM customer
          |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "q_rollup" ->
        """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS priority,
          |count(*) AS n, round(sum(o_totalprice), 2) AS total
          |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
          |ORDER BY status, priority""".stripMargin,
      "q_distinct_counts" ->
        """SELECT count(DISTINCT l_partkey) AS exact_parts, count(DISTINCT l_suppkey) AS exact_supps,
          |count(*) AS n_rows FROM lineitem""".stripMargin,
      "q_approx_distinct" ->
        // the oracle recomputes the exact counts and states the HLL++
        // accuracy contract as constant true — Spark MEASURES the verdict
        """SELECT count(DISTINCT l_partkey) AS exact_parts, count(DISTINCT l_suppkey) AS exact_supps,
          |true AS parts_within_bound, true AS supps_within_bound FROM lineitem""".stripMargin,
      "events_multigrain" ->
        """SELECT event_type,
          |  CASE WHEN grouping(h) = 0 THEN 'hour'
          |       WHEN grouping(d) = 0 THEN 'day' ELSE 'week' END AS grain,
          |  CAST(floor(epoch(coalesce(h, d, w))) AS BIGINT) AS bucket,
          |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
          |FROM (SELECT event_type, CAST(round("value" * 100) AS BIGINT) AS cents,
          |        date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
          |        date_trunc('week', ts) AS w
          |      FROM events)
          |GROUP BY GROUPING SETS ((event_type, h), (event_type, d), (event_type, w))
          |ORDER BY event_type, grain, bucket""".stripMargin,
      "q_grouping_sets" ->
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
          |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, priority""".stripMargin,
      "q_set_intersect" ->
        """SELECT nationkey FROM
          |(SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
          | INTERSECT SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000)
          |ORDER BY nationkey""".stripMargin,
      "q_exists_subquery" ->
        """SELECT c_mktsegment, count(*) AS n_customers FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "q_pivot" ->
        """SELECT user_id % 10 AS user_bucket,
          |count(*) FILTER (event_type = 'click') AS click,
          |count(*) FILTER (event_type = 'view') AS view,
          |count(*) FILTER (event_type = 'purchase') AS purchase,
          |count(*) FILTER (event_type = 'signup') AS signup,
          |count(*) FILTER (event_type = 'error') AS error
          |FROM events GROUP BY user_bucket ORDER BY user_bucket""".stripMargin,
      "q_cube" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
          |count(*) AS n, round(sum(l_quantity), 2) AS qty
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin,
      "q_percentiles" ->
        """SELECT o_orderpriority, round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
          |round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
          |round(min(o_totalprice), 2) AS p_min, round(max(o_totalprice), 2) AS p_max
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q_percentiles_approx" ->
        // group keys recomputed exactly; the sketch's rank-error contract
        // is the constant-true verdict Spark measures against the grouped
        // histogram census's bin edges at the ∓0.005 rank margin (no
        // exact percentile anywhere — the bound is bounded-memory too)
        """SELECT o_orderpriority, true AS p50_in_bound, true AS p90_in_bound
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q_asof_join" ->
        """SELECT e.event_id, round(p."value", 2) AS last_purchase_value
          |FROM events e ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          |ON e.user_id = p.user_id AND p.ts <= e.ts
          |ORDER BY e.event_id""".stripMargin,
      "q_range_join" ->
        """SELECT p.event_id AS probe_id, x.event_id AS hit_id, p.user_id
          |FROM events p JOIN events x ON p.user_id = x.user_id
          |AND p.event_type = 'purchase' AND x.event_type = 'error'
          |AND floor(epoch(x.ts)) BETWEEN floor(epoch(p.ts)) - 3600 AND floor(epoch(p.ts))
          |ORDER BY probe_id, hit_id""".stripMargin,
      "mm_media_meta" ->
        """SELECT doc_id AS media_id, ['png','jpeg','webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
          |CAST(n_chars % 640 + 32 AS INT) AS width, CAST((n_chars * 7) % 480 + 32 AS INT) AS height,
          |CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
          |FROM documents ORDER BY media_id""".stripMargin,
      "mm_features" ->
        """SELECT doc_id AS media_id, ['png','jpeg','webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
          |CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
          |CAST(list_sum(list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)))) AS BIGINT) AS byte_sum,
          |CAST(0 AS BIGINT) AS n_high_bytes
          |FROM documents ORDER BY media_id""".stripMargin,
      "mm_phash_neardups" ->
        // the 48-bit average-hash recomputed byte-exactly (ASCII corpus:
        // ascii(char) == byte, proven by mm_features' n_high_bytes = 0),
        // block threshold integer-cross-multiplied exactly as the op;
        // brute-force hamming join stands in for the pigeonhole banding
        """WITH b AS (
          |  SELECT doc_id,
          |    list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))) AS a,
          |    CAST(length(text) AS BIGINT) AS n
          |  FROM documents),
          |h AS (
          |  SELECT doc_id,
          |    CAST(coalesce(list_sum(list_transform(range(0, 48), k ->
          |      CASE WHEN coalesce(list_sum(a[CAST(k * n // 48 AS INT) + 1 : CAST((k + 1) * n // 48 AS INT)]), 0) * n
          |              > coalesce(list_sum(a), 0) * ((k + 1) * n // 48 - k * n // 48)
          |           THEN 1::BIGINT << k ELSE 0 END)), 0) AS BIGINT) AS phash
          |  FROM b),
          |h2 AS (SELECT doc_id AS mid, phash FROM h
          |       UNION ALL SELECT doc_id + 10000000 AS mid, phash FROM h)
          |SELECT x.mid AS id_a, y.mid AS id_b,
          |  CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS hamming
          |FROM h2 x JOIN h2 y ON x.mid < y.mid
          |WHERE bit_count(xor(x.phash, y.phash)) <= 3
          |ORDER BY id_a, id_b""".stripMargin,
      "mm_video_neardups" ->
        // frames = consecutive 64-char slices (short tail kept); per-frame
        // rolling hash is the text_fingerprint fold; Jaccard over DISTINCT
        // frame-hash sets, rounded-then-thresholded exactly as the op
        """WITH d AS (SELECT doc_id AS media_id, text AS s FROM documents
          |           UNION ALL
          |           SELECT doc_id + 10000000 AS media_id,
          |                  text || ' tail' || doc_id AS s FROM documents),
          |fr AS (SELECT media_id, substr(s, i*64 + 1, 64) AS frame
          |       FROM d, unnest(generate_series(0, (length(s)-1)//64)) AS u(i)
          |       WHERE length(s) >= 1),
          |fp AS (SELECT DISTINCT media_id, list_reduce(
          |         list_prepend(CAST(0 AS BIGINT),
          |           list_transform(range(1, length(frame)+1),
          |             j -> CAST(ascii(substr(frame, j, 1)) AS BIGINT))),
          |         (h, c) -> (h*31 + c) % 1000000007) AS fp
          |       FROM fr),
          |sz AS (SELECT media_id, count(*) AS nf FROM fp GROUP BY media_id),
          |sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS n_shared
          |       FROM fp a JOIN fp b ON a.fp = b.fp AND a.media_id < b.media_id
          |       GROUP BY 1, 2)
          |SELECT id_a, id_b, n_shared,
          |  round(CAST(n_shared AS DOUBLE)/(x.nf + y.nf - n_shared), 4) AS jaccard_r
          |FROM sh JOIN sz x ON x.media_id = id_a JOIN sz y ON y.media_id = id_b
          |WHERE round(CAST(n_shared AS DOUBLE)/(x.nf + y.nf - n_shared), 4) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin,
      "mm_audio_neardups" ->
        // constellation landmarks over overlapping 32-byte windows at
        // hop 16: per-window feature = the text_fingerprint rolling hash
        // of the window (list_reduce fold over accumulator + element only
        // — the DuckDB v1.0 lambda-correlation rule); landmark packs
        // consecutive window features (f_i·2^30 + f_j); background cap
        // df>20 removes landmarks from SETS AND denominators (capped-set
        // Jaccard, the op scaladoc)
        """WITH d AS (SELECT doc_id AS media_id, text AS s FROM documents
          |           UNION ALL
          |           SELECT doc_id + 10000000 AS media_id,
          |                  lpad(CAST(doc_id AS VARCHAR), 14, '0') || ': ' || text AS s
          |           FROM documents),
          |win AS (SELECT media_id, i, substr(s, i*16 + 1, 32) AS w
          |        FROM d, unnest(generate_series(0, (length(s)-32)//16)) AS u(i)
          |        WHERE length(s) >= 48),
          |fp AS (SELECT media_id, i, list_reduce(
          |         list_prepend(CAST(0 AS BIGINT),
          |           list_transform(range(1, length(w)+1),
          |             j -> CAST(ascii(substr(w, j, 1)) AS BIGINT))),
          |         (h, c) -> (h*31 + c) % 1000000007) AS f
          |       FROM win),
          |lm0 AS (SELECT DISTINCT a.media_id, a.f * 1073741824 + b.f AS lm
          |        FROM fp a JOIN fp b ON a.media_id = b.media_id AND b.i = a.i + 1),
          |viral AS (SELECT lm FROM lm0 GROUP BY lm HAVING count(*) > 20),
          |lm AS (SELECT * FROM lm0 WHERE lm NOT IN (SELECT lm FROM viral)),
          |sz AS (SELECT media_id, count(*) AS nl FROM lm GROUP BY media_id),
          |sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS n_shared
          |       FROM lm a JOIN lm b ON a.lm = b.lm AND a.media_id < b.media_id
          |       GROUP BY 1, 2)
          |SELECT id_a, id_b, n_shared,
          |  round(CAST(n_shared AS DOUBLE)/(x.nl + y.nl - n_shared), 4) AS jaccard_r
          |FROM sh JOIN sz x ON x.media_id = id_a JOIN sz y ON y.media_id = id_b
          |WHERE round(CAST(n_shared AS DOUBLE)/(x.nl + y.nl - n_shared), 4) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin,
      "mm_audio_quality" ->
        // the landmark-replay chain of mm_audio_neardups with the
        // PARTIAL-OVERLAP prefix plant, aggregated to the (jband,
        // n_pairs, n_detected) decile census; det replays the deployed
        // predicate (4-dp-rounded capped-set Jaccard >= 0.5) and jband
        // the integer (inter*10) DIV union banding
        """WITH d AS (SELECT doc_id AS media_id, text AS s FROM documents
          |           UNION ALL
          |           SELECT doc_id + 10000000 AS media_id,
          |                  substr(text, 1, CAST(length(text) * ((doc_id % 5) + 3) // 10 AS INT)) AS s
          |           FROM documents),
          |win AS (SELECT media_id, i, substr(s, i*16 + 1, 32) AS w
          |        FROM d, unnest(generate_series(0, (length(s)-32)//16)) AS u(i)
          |        WHERE length(s) >= 48),
          |fp AS (SELECT media_id, i, list_reduce(
          |         list_prepend(CAST(0 AS BIGINT),
          |           list_transform(range(1, length(w)+1),
          |             j -> CAST(ascii(substr(w, j, 1)) AS BIGINT))),
          |         (h, c) -> (h*31 + c) % 1000000007) AS f
          |       FROM win),
          |lm0 AS (SELECT DISTINCT a.media_id, a.f * 1073741824 + b.f AS lm
          |        FROM fp a JOIN fp b ON a.media_id = b.media_id AND b.i = a.i + 1),
          |viral AS (SELECT lm FROM lm0 GROUP BY lm HAVING count(*) > 20),
          |lm AS (SELECT * FROM lm0 WHERE lm NOT IN (SELECT lm FROM viral)),
          |sz AS (SELECT media_id, count(*) AS nl FROM lm GROUP BY media_id),
          |sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS inter
          |       FROM lm a JOIN lm b ON a.lm = b.lm AND a.media_id < b.media_id
          |       GROUP BY 1, 2),
          |pj AS (SELECT CAST((inter * 10) // (x.nl + y.nl - inter) AS INT) AS jband,
          |         CASE WHEN round(CAST(inter AS DOUBLE)/(x.nl + y.nl - inter), 4) >= 0.5
          |              THEN 1 ELSE 0 END AS det
          |       FROM sh JOIN sz x ON x.media_id = id_a JOIN sz y ON y.media_id = id_b)
          |SELECT jband, count(*) AS n_pairs, CAST(sum(det) AS BIGINT) AS n_detected
          |FROM pj GROUP BY jband ORDER BY jband""".stripMargin,
      "mm_audio_cross_corpus" ->
        // same landmark chain split ref/batch; REFERENCE-side viral cap
        // only (batch-invariant); batch sizes counted after dropping the
        // reference's background landmarks; best match per new recording
        // (max jaccard, ties smallest reference id)
        """WITH nw0 AS (SELECT doc_id AS media_id, text AS s FROM documents WHERE doc_id % 2 = 1
          |             UNION ALL
          |             SELECT doc_id + 10000000 AS media_id,
          |                    lpad(CAST(doc_id AS VARCHAR), 14, '0') || ': ' || text AS s
          |             FROM documents WHERE doc_id % 2 = 0),
          |rf0 AS (SELECT doc_id AS media_id, text AS s FROM documents WHERE doc_id % 2 = 0),
          |nwin AS (SELECT media_id, i, substr(s, i*16 + 1, 32) AS w
          |         FROM nw0, unnest(generate_series(0, (length(s)-32)//16)) AS u(i)
          |         WHERE length(s) >= 48),
          |rwin AS (SELECT media_id, i, substr(s, i*16 + 1, 32) AS w
          |         FROM rf0, unnest(generate_series(0, (length(s)-32)//16)) AS u(i)
          |         WHERE length(s) >= 48),
          |nfp AS (SELECT media_id, i, list_reduce(
          |          list_prepend(CAST(0 AS BIGINT),
          |            list_transform(range(1, length(w)+1),
          |              j -> CAST(ascii(substr(w, j, 1)) AS BIGINT))),
          |          (h, c) -> (h*31 + c) % 1000000007) AS f
          |        FROM nwin),
          |rfp AS (SELECT media_id, i, list_reduce(
          |          list_prepend(CAST(0 AS BIGINT),
          |            list_transform(range(1, length(w)+1),
          |              j -> CAST(ascii(substr(w, j, 1)) AS BIGINT))),
          |          (h, c) -> (h*31 + c) % 1000000007) AS f
          |        FROM rwin),
          |nlm0 AS (SELECT DISTINCT a.media_id, a.f * 1073741824 + b.f AS lm
          |         FROM nfp a JOIN nfp b ON a.media_id = b.media_id AND b.i = a.i + 1),
          |rlm0 AS (SELECT DISTINCT a.media_id, a.f * 1073741824 + b.f AS lm
          |         FROM rfp a JOIN rfp b ON a.media_id = b.media_id AND b.i = a.i + 1),
          |viral AS (SELECT lm FROM rlm0 GROUP BY lm HAVING count(*) > 20),
          |rlm AS (SELECT * FROM rlm0 WHERE lm NOT IN (SELECT lm FROM viral)),
          |nlm AS (SELECT * FROM nlm0 WHERE lm NOT IN (SELECT lm FROM viral)),
          |nsz AS (SELECT media_id, count(*) AS nn FROM nlm GROUP BY media_id),
          |rsz AS (SELECT media_id, count(*) AS nr FROM rlm GROUP BY media_id),
          |sh AS (SELECT n.media_id AS id_new, r.media_id AS id_ref, count(*) AS sc
          |       FROM nlm n JOIN rlm r ON n.lm = r.lm GROUP BY 1, 2),
          |j AS (SELECT id_new, id_ref,
          |        round(CAST(sc AS DOUBLE)/(x.nn + y.nr - sc), 4) AS jac
          |      FROM sh JOIN nsz x ON x.media_id = id_new
          |              JOIN rsz y ON y.media_id = id_ref
          |      WHERE round(CAST(sc AS DOUBLE)/(x.nn + y.nr - sc), 4) >= 0.5)
          |SELECT id_new, id_ref AS matched_ref, jac AS best_jaccard
          |FROM (SELECT *, row_number() OVER (PARTITION BY id_new
          |                                   ORDER BY jac DESC, id_ref) AS rn
          |      FROM j)
          |WHERE rn = 1 ORDER BY id_new""".stripMargin,
      "mm_video_cross_corpus" ->
        // same frame/fingerprint CTEs as mm_video_neardups; brute-force
        // (new × ref) Jaccard then best match per new video (max
        // jaccard, ties smallest ref id) stands in for the inverted
        // frame-index probe
        """WITH nw0 AS (SELECT doc_id AS media_id, text AS s FROM documents WHERE doc_id % 2 = 1
          |            UNION ALL
          |            SELECT doc_id + 10000000 AS media_id,
          |                   text || ' tail' || doc_id AS s
          |            FROM documents WHERE doc_id % 2 = 0),
          |rf0 AS (SELECT doc_id AS media_id, text AS s FROM documents WHERE doc_id % 2 = 0),
          |nfr AS (SELECT media_id, substr(s, i*64 + 1, 64) AS frame
          |        FROM nw0, unnest(generate_series(0, (length(s)-1)//64)) AS u(i)
          |        WHERE length(s) >= 1),
          |rfr AS (SELECT media_id, substr(s, i*64 + 1, 64) AS frame
          |        FROM rf0, unnest(generate_series(0, (length(s)-1)//64)) AS u(i)
          |        WHERE length(s) >= 1),
          |nfp AS (SELECT DISTINCT media_id, list_reduce(
          |          list_prepend(CAST(0 AS BIGINT),
          |            list_transform(range(1, length(frame)+1),
          |              j -> CAST(ascii(substr(frame, j, 1)) AS BIGINT))),
          |          (h, c) -> (h*31 + c) % 1000000007) AS fp
          |        FROM nfr),
          |rfp AS (SELECT DISTINCT media_id, list_reduce(
          |          list_prepend(CAST(0 AS BIGINT),
          |            list_transform(range(1, length(frame)+1),
          |              j -> CAST(ascii(substr(frame, j, 1)) AS BIGINT))),
          |          (h, c) -> (h*31 + c) % 1000000007) AS fp
          |        FROM rfr),
          |nsz AS (SELECT media_id, count(*) AS nf FROM nfp GROUP BY media_id),
          |rsz AS (SELECT media_id, count(*) AS nf FROM rfp GROUP BY media_id),
          |sh AS (SELECT n.media_id AS id_new, r.media_id AS id_ref, count(*) AS s
          |       FROM nfp n JOIN rfp r ON n.fp = r.fp GROUP BY 1, 2),
          |j AS (SELECT id_new, id_ref,
          |        round(CAST(s AS DOUBLE)/(x.nf + y.nf - s), 4) AS jac
          |      FROM sh JOIN nsz x ON x.media_id = id_new
          |              JOIN rsz y ON y.media_id = id_ref)
          |SELECT id_new, id_ref AS matched_ref, jac AS best_jaccard
          |FROM (SELECT *, row_number() OVER (PARTITION BY id_new ORDER BY jac DESC, id_ref) AS rn
          |      FROM j WHERE jac >= 0.5)
          |WHERE rn = 1 ORDER BY id_new""".stripMargin,
      "mm_phash_cross_corpus" ->
        // same byte-exact hash CTE; brute-force (new × ref) hamming join
        // then best match per new image (min hamming, ties smallest ref
        // id) stands in for the chunk-banded artifact probe
        """WITH b AS (
          |  SELECT doc_id,
          |    list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))) AS a,
          |    CAST(length(text) AS BIGINT) AS n
          |  FROM documents),
          |h AS (
          |  SELECT doc_id,
          |    CAST(coalesce(list_sum(list_transform(range(0, 48), k ->
          |      CASE WHEN coalesce(list_sum(a[CAST(k * n // 48 AS INT) + 1 : CAST((k + 1) * n // 48 AS INT)]), 0) * n
          |              > coalesce(list_sum(a), 0) * ((k + 1) * n // 48 - k * n // 48)
          |           THEN 1::BIGINT << k ELSE 0 END)), 0) AS BIGINT) AS phash
          |  FROM b),
          |ref AS (SELECT doc_id AS id_ref, phash AS h_ref FROM h WHERE doc_id % 2 = 0),
          |nw AS (SELECT doc_id AS id_new, phash AS h_new FROM h WHERE doc_id % 2 = 1
          |       UNION ALL SELECT doc_id + 10000000 AS id_new, phash AS h_new FROM h WHERE doc_id % 2 = 0),
          |pairs AS (
          |  SELECT id_new, id_ref, CAST(bit_count(xor(h_new, h_ref)) AS INT) AS hamming
          |  FROM nw JOIN ref ON bit_count(xor(h_new, h_ref)) <= 3)
          |SELECT id_new, id_ref AS matched_ref, hamming
          |FROM (SELECT *, row_number() OVER (PARTITION BY id_new ORDER BY hamming, id_ref) AS rn
          |      FROM pairs)
          |WHERE rn = 1 ORDER BY id_new""".stripMargin,
      "mm_resize" ->
        """SELECT doc_id AS media_id,
          |CAST(n_chars % 640 + 32 AS INT) AS src_width,
          |CAST((n_chars * 7) % 480 + 32 AS INT) AS src_height,
          |CAST(length(text) AS BIGINT) AS src_bytes,
          |CAST(greatest(floor(length(text) / 256.0), 1) AS INT) AS stride,
          |CAST(ceil(length(text) * 1.0 / greatest(floor(length(text) / 256.0), 1)) AS BIGINT) AS resized_bytes
          |FROM documents ORDER BY media_id""".stripMargin,
      "mm_frames" ->
        """SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
          |CAST(greatest(least(64, length(text) - i * 64), 0) AS INT) AS frame_len
          |FROM documents, unnest(generate_series(0, CAST(floor(length(text) / 64.0) AS BIGINT))) AS t(i)
          |WHERE i % 4 = 0 ORDER BY media_id, frame_idx""".stripMargin,
      "q04_priority_late" ->
        """SELECT o_orderpriority, count(*) AS order_count FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey
          |              AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q07_volume_shipping" ->
        """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |CAST(year(l_shipdate) AS INT) AS l_year,
          |CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |WHERE n1.n_name <> n2.n_name
          |GROUP BY supp_nation, cust_nation, l_year
          |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
      "q10_returned_items" ->
        """SELECT c_custkey, c_name, n_name,
          |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |GROUP BY c_custkey, c_name, n_name
          |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
      "q14_promo_revenue" ->
        """SELECT round(sum(CASE WHEN p_type = 'PROMO'
          |  THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) AS promo_revenue,
          |round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
          |round(100.0 * sum(CASE WHEN p_type = 'PROMO'
          |  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
          |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
          |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,
      "q18_large_volume" ->
        """WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
          |             FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
          |SELECT c_custkey, c_name, o_orderkey,
          |round(o_totalprice, 2) AS o_totalprice, total_qty
          |FROM big JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_orderkey""".stripMargin,
      "q19_or_of_ands" ->
        """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          |count(*) AS n_items
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity <= 25)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity >= 10)
          |   OR (p_brand = 'Brand#5' AND l_quantity BETWEEN 5 AND 30)""".stripMargin,
      "q22_prospects" ->
        """SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
          |FROM customer c
          |WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer WHERE c_acctbal > 0)
          |AND NOT EXISTS (SELECT 1 FROM orders o
          |                WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
          |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
      "q_corr_scalar_subquery" ->
        """SELECT p_partkey, p_brand, p_retailprice FROM part p
          |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
          |                       FROM part p2 WHERE p2.p_brand = p.p_brand)
          |ORDER BY p_brand, p_partkey""".stripMargin,
      "q_full_outer_join" ->
        """WITH a AS (SELECT doc_id FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50),
          |b AS (SELECT doc_id FROM documents ORDER BY md5(text), doc_id LIMIT 50)
          |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
          |CAST(a.doc_id IS NOT NULL AS INT) AS in_longest,
          |CAST(b.doc_id IS NOT NULL AS INT) AS in_sample
          |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id ORDER BY doc_id""".stripMargin,
      "q_unpivot" ->
        """WITH w AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
          |  FROM documents GROUP BY lang)
          |SELECT lang, metric, value FROM (
          |  SELECT lang, 'n_docs' AS metric, n_docs AS value FROM w
          |  UNION ALL SELECT lang, 'sum_chars', sum_chars FROM w
          |  UNION ALL SELECT lang, 'n_sources', n_sources FROM w)
          |ORDER BY lang, metric""".stripMargin,
      "emb_l2_norm" ->
        // same left fold, same 0.0 seed, elements cast to double BEFORE
        // squaring — bit-identical summation order to the Spark HOF
        """SELECT vec_id,
          |round(sqrt(list_reduce(list_prepend(0.0,
          |  list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
          |  (a, b) -> a + b)), 4) AS l2_norm,
          |CAST(len(embedding) AS INT) AS dim
          |FROM embeddings ORDER BY vec_id""".stripMargin,
      "text_pii_redact" ->
        """WITH aug AS (SELECT doc_id,
          |  text || ' contact user' || doc_id || '@example.com or +1-555-' || doc_id AS aug
          |  FROM documents)
          |SELECT doc_id,
          |CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
          |CAST(len(regexp_extract_all(aug, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}')) AS INT) AS n_phones,
          |CASE WHEN length(redacted) <= 30 THEN redacted
          |     ELSE substr(redacted, length(redacted) - 29, 30) END AS redacted_tail
          |FROM (SELECT doc_id, aug, regexp_replace(
          |    regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}', '<PHONE>', 'g') AS redacted FROM aug)
          |ORDER BY doc_id""".stripMargin,
      "text_edit_distance" ->
        """SELECT doc_id, CAST(levenshtein(substr(text, 1, 120),
          |substr(trim(regexp_replace(
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(lower(text), '<[^>]*>', ' ', 'g'),
          |      'https?://[^ \t\n\x0b\f\r]+', '[url]', 'g'),
          |    '[a-z0-9._%+-]+@[a-z0-9.-]+', '[email]', 'g'),
          |  '[\x00-\x1f]', ' ', 'g'),
          |'\s+', ' ', 'g')), 1, 120)) AS INT) AS edit_dist
          |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
      "text_edit_neighbors" ->
        // quadratic exact form of the symmetric-deletion join; the 64-char
        // gate mirrors the operator's maxLen default
        """WITH tk AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\s+')) AS w
          |  FROM documents),
          |v AS (SELECT w FROM tk WHERE length(w) > 0 AND length(w) <= 64
          |      UNION SELECT DISTINCT source FROM documents)
          |SELECT a.w AS w1, b.w AS w2, CAST(levenshtein(a.w, b.w) AS INT) AS dist
          |FROM v a JOIN v b ON a.w < b.w AND levenshtein(a.w, b.w) <= 1
          |ORDER BY w1, w2""".stripMargin,
      "docs_gram_novelty" ->
        // string-gram replay of the hash-keyed novelty attribution: the
        // truncated-gram construction (greatest(len-2, 1)) makes every doc
        // own >= 1 gram, so ng covers the corpus and the LEFT JOIN only
        // fills docs owning no first occurrence
        s"""WITH t AS (SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\\s+') AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
           |firsts AS (SELECT g, min(doc_id) AS doc_id FROM grams GROUP BY g),
           |ng AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
           |nv AS (SELECT doc_id, count(*) AS n_novel FROM firsts GROUP BY doc_id)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel
           |FROM ng LEFT JOIN nv USING (doc_id) ORDER BY doc_id""".stripMargin,
      "docs_novelty_incremental" ->
        // same gram construction; the seen set is the even half's DISTINCT
        // grams, batch novelty = anti-join survivors first-within-batch
        s"""WITH t AS (SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\\s+') AS w FROM documents),
           |grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
           |          FROM t, unnest(generate_series(1, greatest(len(w)-2, 1))) AS u(i)),
           |seen AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0),
           |bg AS (SELECT doc_id, g FROM grams WHERE doc_id % 2 = 1),
           |firsts AS (SELECT g, min(doc_id) AS doc_id FROM bg ANTI JOIN seen USING (g) GROUP BY g),
           |ng AS (SELECT doc_id, count(*) AS n_grams FROM bg GROUP BY doc_id),
           |nv AS (SELECT doc_id, count(*) AS n_novel FROM firsts GROUP BY doc_id)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel
           |FROM ng LEFT JOIN nv USING (doc_id) ORDER BY doc_id""".stripMargin,
      "events_pattern_seq" ->
        // the same greedy stage-minima construction (see
        // Events.earliestSequence for the optimality argument)
        """WITH v AS (SELECT user_id, min(ts) AS m0 FROM events
          |           WHERE event_type = 'view' GROUP BY user_id),
          |c AS (SELECT e.user_id, v.m0, min(e.ts) AS m1 FROM events e
          |      JOIN v ON e.user_id = v.user_id
          |      WHERE e.event_type = 'click' AND e.ts > v.m0 GROUP BY e.user_id, v.m0),
          |p AS (SELECT e.user_id, c.m0, c.m1, min(e.ts) AS m2 FROM events e
          |      JOIN c ON e.user_id = c.user_id
          |      WHERE e.event_type = 'purchase' AND e.ts > c.m1 GROUP BY e.user_id, c.m0, c.m1)
          |SELECT user_id, CAST(floor(epoch(m0)) AS BIGINT) AS t_0,
          |CAST(floor(epoch(m1)) AS BIGINT) AS t_1,
          |CAST(floor(epoch(m2)) AS BIGINT) AS t_2
          |FROM p ORDER BY user_id""".stripMargin,
      "q06_forecast_revenue" ->
        """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
          |count(*) AS n_items
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          |AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
          |AND l_quantity < 24""".stripMargin,
      "q08_market_share" ->
        """WITH v AS (
          |  SELECT CAST(year(l_shipdate) AS INT) AS l_year, n1.n_name AS supp_nation,
          |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS volume_cents
          |  FROM lineitem
          |  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |  JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA')
          |SELECT l_year,
          |CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents ELSE 0 END) AS BIGINT) AS nation_cents,
          |CAST(sum(volume_cents) AS BIGINT) AS total_cents,
          |round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents ELSE 0 END) AS DOUBLE)
          |  / CAST(sum(volume_cents) AS DOUBLE), 6) AS mkt_share
          |FROM v GROUP BY l_year ORDER BY l_year""".stripMargin,
      "q09_profit_by_nation" ->
        """SELECT n_name, CAST(year(l_shipdate) AS INT) AS o_year,
          |CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1) * 100) AS BIGINT)) AS BIGINT) AS profit_cents,
          |count(*) AS n_items
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name, o_year ORDER BY n_name, o_year DESC""".stripMargin,
      "q15_top_supplier" ->
        """WITH rev AS (
          |  SELECT l_suppkey AS supplier_no,
          |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_cents
          |FROM supplier JOIN rev ON s_suppkey = supplier_no
          |WHERE total_cents = (SELECT max(total_cents) FROM rev)
          |ORDER BY s_suppkey""".stripMargin,
      "q16_part_supplier_variety" ->
        """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE p_brand <> 'Brand#1'
          |AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
          |GROUP BY p_brand, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,
      "q21_waiting_supplier" ->
        // the decorrelated form (see the query comment); identical
        // semantics to Q21's EXISTS/NOT EXISTS over the lateness proxy
        """WITH flagged AS (
          |  SELECT l_orderkey, l_suppkey,
          |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late
          |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |  GROUP BY l_orderkey, l_suppkey),
          |stats AS (SELECT l_orderkey, count(*) AS n_supps, CAST(sum(late) AS BIGINT) AS n_late
          |          FROM flagged GROUP BY l_orderkey)
          |SELECT s_name, count(*) AS numwait
          |FROM flagged f JOIN stats USING (l_orderkey)
          |JOIN supplier ON s_suppkey = f.l_suppkey
          |WHERE f.late = 1 AND stats.n_supps >= 2 AND stats.n_late = 1
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
      "text_simjoin_tfidf" ->
        // identical gram construction (w[i:i+2] 1-based == Spark slice),
        // identical rational weights, identical sorted-fold dot/norm order
        s"""WITH toks AS (SELECT doc_id AS doc, $toks AS wd FROM documents),
           |g AS (SELECT doc, array_to_string(wd[i:i+2], ' ') AS term
           |      FROM toks, unnest(generate_series(1, greatest(len(wd)-2, 1))) AS u(i)),
           |tf AS (SELECT doc, term, CAST(count(*) AS DOUBLE) AS tf FROM g GROUP BY doc, term),
           |dfq AS (SELECT term, count(*) AS df0 FROM tf GROUP BY term HAVING count(*) <= 20),
           |w AS (SELECT doc, term, tf / CAST(df0 AS DOUBLE) AS w FROM tf JOIN dfq USING (term)),
           |norms AS (SELECT doc, sqrt(list_reduce(list_prepend(0.0, list_sort(list(w * w))), (a, x) -> a + x)) AS nrm
           |          FROM w GROUP BY doc),
           |p AS (SELECT a.doc AS id_a, b.doc AS id_b,
           |      list_reduce(list_prepend(0.0, list_sort(list(a.w * b.w))), (s, x) -> s + x) AS dot
           |      FROM w a JOIN w b ON a.term = b.term AND a.doc < b.doc GROUP BY 1, 2)
           |SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine_r
           |FROM p JOIN norms na ON na.doc = id_a JOIN norms nb ON nb.doc = id_b
           |WHERE dot / (na.nrm * nb.nrm) >= 0.5
           |ORDER BY id_a, id_b""".stripMargin,
      "text_word_lift" ->
        s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toks)) AS term FROM documents),
           |dfq AS (SELECT term, count(*) AS df FROM t GROUP BY term),
           |v AS (SELECT term, df FROM dfq ORDER BY df DESC, term LIMIT 40),
           |dt AS (SELECT doc_id, t.term FROM t JOIN v USING (term)),
           |p AS (SELECT a.term AS term_a, b.term AS term_b, count(*) AS co_docs
           |      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
           |      GROUP BY 1, 2 HAVING count(*) >= 5),
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
           |SELECT term_a, term_b, CAST(co_docs AS BIGINT) AS co_docs,
           |CAST(va.df AS BIGINT) AS df_a, CAST(vb.df AS BIGINT) AS df_b,
           |round(n_docs * CAST(co_docs AS DOUBLE) / CAST(va.df * vb.df AS DOUBLE), 4) AS lift_r
           |FROM p JOIN v va ON va.term = p.term_a JOIN v vb ON vb.term = p.term_b, n
           |ORDER BY lift_r DESC, term_a, term_b LIMIT 20""".stripMargin,
      "docs_quality_gate" ->
        // the text_quality oracle's score construction + per-language
        // median gate (quantile_cont == Spark percentile, proven by
        // q_percentiles)
        s"""WITH f AS (SELECT doc_id, lang, $toks AS w, $subw AS sw FROM documents),
           |g AS (SELECT doc_id, lang, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, lang,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g),
           |m AS (SELECT lang, quantile_cont(quality_score, 0.5) AS med FROM q GROUP BY lang)
           |SELECT doc_id, q.lang, quality_score, round(med, 2) AS lang_median
           |FROM q JOIN m USING (lang) WHERE quality_score >= med
           |ORDER BY doc_id""".stripMargin,
      "docs_dedup_survivorship" ->
        // the quality-gate score CTEs + full-text keep-min keepers (raw
        // GROUP BY text — a fingerprint collision on the Spark side fails
        // loudly, the dedup_exact_cross convention) + an 11-key integer
        // census; bucket = round(score·10) from the same 2-dp double
        s"""WITH f AS (SELECT doc_id, $toks AS w FROM documents),
           |g AS (SELECT doc_id, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g),
           |k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
           |j AS (SELECT q.doc_id, CAST(round(quality_score * 10, 0) AS INT) AS bucket,
           |      CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept
           |      FROM q LEFT JOIN k ON k.doc_id = q.doc_id)
           |SELECT bucket, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept,
           |  CAST(count(*) - sum(kept) AS BIGINT) AS n_dropped,
           |  round(CAST(sum(kept) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS kept_share_r
           |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin,
      "docs_source_cap" ->
        // same score construction, then top-10 per source by
        // (quality_score desc, doc_id asc) — the window form IS the
        // specification; the Spark side computes the identical set via
        // the bounded histogram threshold + boundary-bucket rank
        s"""WITH f AS (SELECT doc_id, source, $toks AS w FROM documents),
           |g AS (SELECT doc_id, source, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, source,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g),
           |r AS (SELECT doc_id, source, quality_score,
           |  row_number() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id) AS rn FROM q)
           |SELECT doc_id, source, quality_score FROM r WHERE rn <= 10
           |ORDER BY doc_id""".stripMargin,
      "events_retention" ->
        """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
          |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
          |SELECT CAST(floor(epoch(cohort)) AS BIGINT) AS cohort_day,
          |CAST(date_diff('day', cohort, day) AS INT) AS k, count(*) AS n_users
          |FROM d JOIN c USING (user_id)
          |WHERE date_diff('day', cohort, day) <= 7
          |GROUP BY 1, 2 ORDER BY cohort_day, k""".stripMargin,
      "events_anomaly" ->
        // same exact-integer-moment construction as Events.anomalyZScores;
        // the z expression is textually identical so every double op is
        // IEEE-identical
        """WITH c AS (SELECT event_id, event_type, CAST(round("value" * 100) AS BIGINT) AS cents FROM events),
          |st AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, CAST(sum(cents) AS DOUBLE) AS s,
          |       CAST(sum(cents * cents) AS DOUBLE) AS q FROM c GROUP BY event_type)
          |SELECT event_id, c.event_type,
          |round((CAST(cents AS DOUBLE) - s / n) / sqrt(q / n - (s / n) * (s / n)), 4) AS z_r
          |FROM c JOIN st USING (event_type)
          |WHERE abs((CAST(cents AS DOUBLE) - s / n) / sqrt(q / n - (s / n) * (s / n))) >= 2.5
          |ORDER BY event_id""".stripMargin,
      "emb_dim_stats" ->
        // micro-unit integer sums (round(x·1e6) as BIGINT) — order-proof
        // exact mean, same discipline as the Spark kernel
        """WITH x AS (SELECT CAST(i - 1 AS INT) AS pos, CAST(embedding[i] AS DOUBLE) AS xd
          |           FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i))
          |SELECT pos, count(*) AS n,
          |round(CAST(sum(CAST(round(xd * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE), 4) AS mean_r,
          |round(min(xd), 4) AS min_r, round(max(xd), 4) AS max_r
          |FROM x GROUP BY pos ORDER BY pos""".stripMargin,
      "q02_min_cost_supplier" ->
        """WITH cost AS (
          |  SELECT l_partkey, l_suppkey,
          |         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cents
          |  FROM lineitem GROUP BY 1, 2),
          |eu AS (SELECT s_suppkey, s_name, n_name FROM supplier
          |       JOIN nation ON s_nationkey = n_nationkey
          |       JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
          |best AS (
          |  SELECT p_partkey, p_brand, s_name, n_name, cost_cents,
          |         min(cost_cents) OVER (PARTITION BY p_partkey) AS best_cents
          |  FROM cost JOIN eu ON l_suppkey = s_suppkey
          |  JOIN part ON p_partkey = l_partkey AND p_size <= 15 AND p_type = 'STANDARD')
          |SELECT p_partkey, p_brand, s_name, n_name, cost_cents
          |FROM best WHERE cost_cents = best_cents
          |ORDER BY cost_cents, p_partkey, s_name""".stripMargin,
      "q11_important_parts" ->
        """WITH val AS (
          |  SELECT l_partkey AS p_partkey,
          |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS value_cents
          |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
          |  GROUP BY 1)
          |SELECT p_partkey, CAST(value_cents AS BIGINT) AS value_cents FROM val
          |WHERE value_cents * (SELECT count(*) FROM val) * 4
          |      > 5 * (SELECT sum(value_cents) FROM val)
          |ORDER BY value_cents DESC, p_partkey""".stripMargin,
      "q12_delay_priority" ->
        """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30 THEN '1_fast'
          |            WHEN date_diff('day', o_orderdate, l_shipdate) < 60 THEN '2_medium'
          |            ELSE '3_slow' END AS delay_bucket,
          |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q20_excess_share" ->
        """WITH ps AS (
          |  SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
          |  FROM lineitem GROUP BY 1, 2),
          |tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM ps GROUP BY 1)
          |SELECT s_suppkey, s_name FROM supplier
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
          |WHERE s_suppkey IN (
          |  SELECT l_suppkey FROM ps JOIN tot USING (l_partkey)
          |  JOIN part ON p_partkey = l_partkey AND contains(p_name, 'red')
          |  WHERE qty * 8 > total_qty)
          |ORDER BY s_suppkey""".stripMargin,
      "docs_global_rank" ->
        """SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) AS global_rank
          |FROM documents ORDER BY doc_id""".stripMargin,
      "docs_qnorm_length" ->
        // within-source midrank -> pooled-rank lookup, all integer
        // arithmetic; DuckDB // is floor division == Spark DIV on longs
        """WITH src AS (SELECT doc_id, source, n_chars FROM documents),
          |r AS (SELECT doc_id, source, n_chars,
          |      row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
          |      count(*) OVER (PARTITION BY source) AS ns FROM src),
          |p AS (SELECT n_chars AS qnorm,
          |      row_number() OVER (ORDER BY n_chars, doc_id) AS gr FROM src),
          |n AS (SELECT count(*) AS nt FROM src)
          |SELECT r.doc_id, r.source, r.n_chars, p.qnorm
          |FROM r, n, p WHERE p.gr = ((2 * r.r - 1) * n.nt) // (2 * r.ns) + 1
          |ORDER BY r.doc_id""".stripMargin,
      "docs_len_hist_quantiles" ->
        // clamp -> integer floor-div binning -> bounded running sum ->
        // ceiling-rank lookup; // is floor division == Spark DIV
        """WITH v AS (SELECT greatest(0, least(n_chars, 511)) AS v FROM documents),
          |h AS (SELECT v // 8 AS bin, count(*) AS n FROM v GROUP BY 1),
          |c AS (SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum FROM h),
          |t AS (SELECT sum(n) AS nt FROM h),
          |q(q_pm) AS (VALUES (500), (900), (990)),
          |r AS (SELECT q_pm, CAST((nt * q_pm + 999) // 1000 AS BIGINT) AS rnk FROM q, t),
          |sel AS (SELECT r.q_pm, r.rnk, min(c.bin) AS bin
          |        FROM r JOIN c ON c.cum >= r.rnk GROUP BY r.q_pm, r.rnk)
          |SELECT CAST(q_pm AS INT) AS q_pm, bin, (bin + 1) * 8 AS est_hi, rnk AS rank
          |FROM sel ORDER BY q_pm""".stripMargin,
      "events_ewma" ->
        // seedless list_reduce uses the first element as the seed —
        // exactly the batch op's convention; the fold order is the
        // repo's (ts, event_id) event total order
        """WITH l AS (SELECT user_id, count(*) AS n_events,
          |      list("value" ORDER BY ts, event_id) AS vs FROM events GROUP BY user_id)
          |SELECT user_id, n_events,
          |  round(list_reduce(vs, (a, x) -> a + (x - a) * 0.25), 4) AS ewma_r
          |FROM l ORDER BY user_id""".stripMargin,
      "docs_budget_select" ->
        // the text_quality oracle's score construction → integer rank
        // key → ONE-window prefix sum (the oracle form of the two-phase
        // globalCumsum) → greedy budget cut
        s"""WITH f AS (SELECT doc_id, length(text) AS nc, $toks AS w, $subw AS sw FROM documents),
           |g AS (SELECT doc_id, nc, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, nc,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g),
           |k AS (SELECT doc_id, nc,
           |  (100 - CAST(round(quality_score * 100) AS BIGINT)) * 1000 + least(nc, 999) AS rank_key
           |FROM q),
           |s AS (SELECT doc_id, rank_key, CAST(nc AS BIGINT) AS cost,
           |  CAST(sum(nc) OVER (ORDER BY rank_key, doc_id) AS BIGINT) AS cum FROM k)
           |SELECT doc_id, rank_key, cost, cum FROM s WHERE cum <= 50000
           |ORDER BY doc_id""".stripMargin,
      "docs_lm_score" ->
        // identical float op order: (c12+1)/(c1+V) FIRST, then ·1e9, then
        // floor — every double op IEEE-identical to the Spark side
        raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
           |bg AS (SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
           |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)),
           |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
           |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
           |v AS (SELECT count(DISTINCT x) AS v FROM
           |      (SELECT w1 AS x FROM c12 UNION SELECT w2 AS x FROM c12)),
           |m AS (SELECT w1, w2,
           |  CAST(floor(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE) * 1e9) AS BIGINT) AS p_nano
           |FROM c12 JOIN c1 USING (w1), v)
           |SELECT doc_id, CAST(sum(p_nano) AS BIGINT) AS score_nano,
           |  count(*) AS n_bigrams,
           |  CAST(sum(p_nano) // count(*) AS BIGINT) AS avg_p_nano
           |FROM bg JOIN m USING (w1, w2) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "text_postings" ->
        raw"""WITH td AS (SELECT DISTINCT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           |  FROM documents),
           |dfs AS (SELECT term, count(*) AS df FROM td GROUP BY term),
           |top AS (SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT 20)
           |SELECT term, df, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS posting
           |FROM td JOIN top USING (term) GROUP BY term, df
           |ORDER BY term""".stripMargin,
      "text_postings_segments" ->
        raw"""WITH td AS (SELECT DISTINCT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           |  FROM documents),
           |dfs AS (SELECT term, count(*) AS df FROM td GROUP BY term),
           |top AS (SELECT term, df FROM dfs ORDER BY df DESC, term LIMIT 20)
           |SELECT term, df, doc_id // 100 AS seg, count(*) AS seg_df,
           |string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS posting
           |FROM td JOIN top USING (term) GROUP BY term, df, seg
           |ORDER BY term, seg""".stripMargin,
      "docs_quality_calibrated" ->
        // the text_quality score construction + exact-integer per-lang
        // percent rank (ppm)
        s"""WITH f AS (SELECT doc_id, lang, $toks AS w, $subw AS sw FROM documents),
           |g AS (SELECT doc_id, lang, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, lang,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g)
           |SELECT doc_id, lang, quality_score,
           |  CAST(CASE WHEN count(*) OVER (PARTITION BY lang) > 1
           |    THEN ((rank() OVER (PARTITION BY lang ORDER BY quality_score) - 1) * 1000000)
           |         // (count(*) OVER (PARTITION BY lang) - 1)
           |    ELSE 0 END AS BIGINT) AS cal_ppm
           |FROM q ORDER BY doc_id""".stripMargin,
      "docs_calibrate_apply" ->
        // same score construction; odd-id docs ranked against the even-id
        // half's distribution: below = strict-below count in the
        // reference, n = reference language total; unseen language → NULL
        s"""WITH f AS (SELECT doc_id, lang, $toks AS w FROM documents),
           |g AS (SELECT doc_id, lang, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |FROM f),
           |q AS (SELECT doc_id, lang,
           |round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |  + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |  + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
           |FROM g),
           |ref AS (SELECT * FROM q WHERE doc_id % 2 = 0),
           |nw AS (SELECT * FROM q WHERE doc_id % 2 = 1),
           |m AS (SELECT lang, count(*) AS n FROM ref GROUP BY lang),
           |b AS (SELECT nw.doc_id, count(r.doc_id) AS below FROM nw
           |      LEFT JOIN ref r ON r.lang = nw.lang AND r.quality_score < nw.quality_score
           |      GROUP BY nw.doc_id)
           |SELECT nw.doc_id, nw.lang, nw.quality_score,
           |  CAST(CASE WHEN m.n > 1 THEN (b.below * 1000000) // (m.n - 1)
           |            WHEN m.n IS NOT NULL THEN 0 END AS BIGINT) AS cal_ppm
           |FROM nw JOIN b ON b.doc_id = nw.doc_id LEFT JOIN m ON m.lang = nw.lang
           |ORDER BY nw.doc_id""".stripMargin,
      "events_session_paths" ->
        // the events_sessions gap construction (proven by that oracle) +
        // order-pinned string_agg path + top-k census
        """WITH x AS (SELECT user_id, ts, event_id, event_type,
          |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
          |       THEN 1 ELSE 0 END AS new_s FROM events),
          |y AS (SELECT user_id, ts, event_id, event_type,
          |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x),
          |p AS (SELECT user_id, sid,
          |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          |FROM y GROUP BY user_id, sid)
          |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
          |ORDER BY n_sessions DESC, path LIMIT 25""".stripMargin,
      "docs_snapshot_diff" -> {
        // the text_fingerprint rolling-hash fold, applied to each
        // snapshot's (possibly edited) text
        def fold(x: String) =
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(range(1, length($x) + 1), i -> CAST(ascii(substr($x, i, 1)) AS BIGINT))),
             |  (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin
        s"""WITH oldv AS (SELECT doc_id, ${fold("text")} AS fp
           |  FROM documents WHERE doc_id % 19 <> 3),
           |newv AS (SELECT doc_id, ${fold("t2")} AS fp FROM (
           |  SELECT doc_id, CASE WHEN doc_id % 17 = 2 THEN text || ' v2' ELSE text END AS t2
           |  FROM documents WHERE doc_id % 23 <> 5)),
           |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.fp AS fpo, n.fp AS fpn
           |      FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
           |SELECT doc_id, CASE WHEN fpo IS NULL THEN 'added'
           |  WHEN fpn IS NULL THEN 'removed' ELSE 'changed' END AS status
           |FROM j WHERE fpo IS NULL OR fpn IS NULL OR fpo <> fpn
           |ORDER BY doc_id""".stripMargin
      },
      "orders_profile" -> {
        // one UNION ALL block per column; numeric min/max as DOUBLE,
        // NULL for non-numerics (string/timestamp renderings are
        // engine-dependent; counts and cardinalities are not)
        val profCols = Seq(("o_orderkey", true), ("o_custkey", true),
          ("o_orderstatus", false), ("o_totalprice", true),
          ("o_orderdate", false), ("o_orderpriority", false))
        profCols.map { case (c, num) =>
          val mn = if (num) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          val mx = if (num) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS non_null,
             |count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
             |$mn AS min_num, $mx AS max_num FROM orders""".stripMargin
        }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
      },
      "docs_incremental_curation" -> {
        // the docs_snapshot_diff CTEs + the text_quality fold, applied
        // only to the added/changed delta (removed rows keep null score)
        def fold(x: String) =
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(range(1, length($x) + 1), i -> CAST(ascii(substr($x, i, 1)) AS BIGINT))),
             |  (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin
        s"""WITH oldv AS (SELECT doc_id, ${fold("text")} AS fp
           |  FROM documents WHERE doc_id % 19 <> 3),
           |newdocs AS (SELECT doc_id,
           |  CASE WHEN doc_id % 17 = 2 THEN text || ' v2' ELSE text END AS text
           |  FROM documents WHERE doc_id % 23 <> 5),
           |newv AS (SELECT doc_id, ${fold("text")} AS fp FROM newdocs),
           |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.fp AS fpo, n.fp AS fpn
           |      FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id),
           |delta AS (SELECT doc_id, CASE WHEN fpo IS NULL THEN 'added'
           |  WHEN fpn IS NULL THEN 'removed' ELSE 'changed' END AS status
           |  FROM j WHERE fpo IS NULL OR fpn IS NULL OR fpo <> fpn),
           |f AS (SELECT d.doc_id, $toks AS w
           |      FROM newdocs JOIN delta d ON newdocs.doc_id = d.doc_id
           |      WHERE d.status <> 'removed'),
           |q AS (SELECT doc_id, len(w) AS n_tokens,
           |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 4) AS avg_token_len,
           |  round(len(list_filter(w, x -> list_contains(${markers(mk("en"))}, lower(x)))) * 1.0 / greatest(len(w), 1), 4) AS stopword_ratio
           |  FROM f),
           |sc AS (SELECT doc_id,
           |  round((CASE WHEN n_tokens BETWEEN 10 AND 200 THEN 0.4 ELSE 0.0 END)
           |    + (CASE WHEN avg_token_len BETWEEN 2.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           |    + (CASE WHEN stopword_ratio > 0.0 THEN 0.3 ELSE 0.0 END), 2) AS quality_score FROM q)
           |SELECT d.doc_id, d.status, sc.quality_score,
           |CAST(CASE WHEN d.status <> 'removed' AND sc.quality_score >= 0.5
           |     THEN 1 ELSE 0 END AS INT) AS keep_flag
           |FROM delta d LEFT JOIN sc ON d.doc_id = sc.doc_id
           |ORDER BY d.doc_id""".stripMargin
      },
      "events_transitions" ->
        """WITH s AS (SELECT user_id, event_type,
          |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
          |FROM events),
          |c AS (SELECT prev_type, event_type, count(*) AS cnt FROM s
          |      WHERE prev_type IS NOT NULL GROUP BY 1, 2),
          |tt AS (SELECT prev_type, CAST(sum(cnt) AS BIGINT) AS total FROM c GROUP BY 1)
          |SELECT prev_type, event_type, cnt,
          |  CAST((cnt * 1000000) // total AS BIGINT) AS p_ppm
          |FROM c JOIN tt USING (prev_type)
          |ORDER BY prev_type, event_type""".stripMargin,
      "orders_zorder" -> {
        // 14-bit Morton interleave written as 28 explicit terms — no
        // correlated generate_series subquery, bit-identical to the
        // unrolled Spark expression
        val zterms = (0 until 14).map(i =>
          s"((x >> $i) & 1) * ${1L << (2 * i)} + ((y >> $i) & 1) * ${1L << (2 * i + 1)}")
          .mkString(" + ")
        s"""WITH b AS (SELECT o_orderkey,
           |  CAST(o_custkey AS BIGINT) & 16383 AS x,
           |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) & 16383 AS y
           |FROM orders)
           |SELECT o_orderkey, x, y, CAST($zterms AS BIGINT) AS zkey,
           |  CAST(($zterms) >> 18 AS BIGINT) AS zbucket
           |FROM b ORDER BY o_orderkey""".stripMargin
      },
      "docs_mix_interleave" ->
        // tie order (vt, lang) — matches the analytic per-source position
        // formula's source-ascending tie-break (mixInterleave scaladoc);
        // within a source vts are distinct, so this is a total order
        """WITH r AS (
          |  SELECT doc_id, lang,
          |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
          |  FROM documents),
          |v AS (SELECT doc_id, lang,
          |        rk * (CASE lang WHEN 'en' THEN 2 WHEN 'fr' THEN 3 ELSE 6 END) AS vt
          |      FROM r)
          |SELECT doc_id, lang, CAST(vt AS BIGINT) AS vt,
          |       row_number() OVER (ORDER BY vt, lang) AS mix_pos
          |FROM v ORDER BY doc_id""".stripMargin,
      "docs_mix_allocate" ->
        // the greedy prefix test in ratio order (mixAllocate scaladoc),
        // replayed with the identical arithmetic: integer token sums are
        // exact in doubles regardless of addition order, so B/totw/cumc
        // match Spark's window sums bit-for-bit
        raw"""WITH t AS (SELECT source,
           |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY source),
           |b AS (SELECT source, n_tokens, CAST(n_tokens AS DOUBLE)*1.5 AS c, 1.0 AS w,
           |      CAST(n_tokens AS DOUBLE)*1.5/1.0 AS r FROM t WHERE n_tokens > 0),
           |s AS (SELECT *, sum(CAST(n_tokens AS DOUBLE)) OVER ()*1.45 AS bb,
           |  COALESCE(sum(c) OVER (ORDER BY r, source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumc,
           |  COALESCE(sum(w) OVER (ORDER BY r, source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumw,
           |  sum(w) OVER () AS totw FROM b),
           |f AS (SELECT *, (r <= (bb - cumc)/(totw - cumw)) AS capped FROM s),
           |g AS (SELECT *, (bb - COALESCE(sum(CASE WHEN capped THEN c END) OVER (), 0)) /
           |      COALESCE(sum(CASE WHEN NOT capped THEN w END) OVER (), CAST('inf' AS DOUBLE)) AS lam FROM f)
           |SELECT source, n_tokens, CAST(capped AS INT) AS capped,
           |round(CASE WHEN capped THEN c ELSE lam*w END, 2) AS alloc_tokens,
           |round((CASE WHEN capped THEN c ELSE lam*w END)/CAST(n_tokens AS DOUBLE), 4) AS epochs
           |FROM g ORDER BY source""".stripMargin,
      "events_ohlc" ->
        // (sec, event_id) lexicographic order key mirrored as a HUGEINT
        // composite (DuckDB's arg_min takes scalar keys only): the 2e19
        // multiplier exceeds any BIGINT event_id, so no id can alias into
        // a later second and 128-bit arithmetic cannot overflow — the
        // same total order as the Spark side's struct(s, i) key
        """WITH e AS (
          |  SELECT event_type, "value",
          |         CAST(floor(epoch(ts)) AS BIGINT)
          |           - CAST(floor(epoch(ts)) AS BIGINT) % 900 AS w_start,
          |         CAST(floor(epoch(ts)) AS HUGEINT) * 20000000000000000000 + event_id AS ord
          |  FROM events)
          |SELECT event_type, w_start,
          |       arg_min("value", ord) AS open_v, max("value") AS high_v,
          |       min("value") AS low_v, arg_max("value", ord) AS close_v,
          |       count(*) AS n
          |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    )
  }
}
