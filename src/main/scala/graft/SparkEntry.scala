package graft

import graft.simops.{Multimodal, Similarity}
import graft.sources.Sources
import graft.textops.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data operator suite), each with a DuckDB
  * oracle in `oracleSql` where ANSI-SQL-expressible. Column names are
  * aligned 1:1 between the Spark plan and the oracle SQL; float-unstable
  * aggregates are cast to DECIMAL so both engines produce bit-identical
  * results.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive parallelism guard for queries whose dominant cost is
    * per-row kernels (md5, sha2, regex, json) BEFORE any exchange: a
    * table smaller than one scan split otherwise runs them single-task
    * (guide §2.5). No-op whenever the scan already carries fleet
    * parallelism — i.e. at any real scale.
    */
  private def par(df: DataFrame, key: String): DataFrame =
    graft.util.Parallelism.ensure(df, col(key))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the CDC final-state reducer over the events changelog.
    */
  def entry(spark: SparkSession): DataFrame =
    cdcFinalState(spark, "/root/testdata/sf0.001")

  // -- CDC / draethos-fidelity operators ---------------------------------------

  /** events table viewed as a change log: key=user_id, lsn=event_id,
    * op: purchase ⇒ delete, else upsert. Final state = latest-lsn winner
    * per key, deletes dropped — the engine's merge reducer
    * (LakeTable.merge step 1 + delete filter) in batch form.
    */
  private def cdcFinalState(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("last_lsn"),
        col("event_type").as("last_op"), col("value").as("last_value"))
  }

  private def cdcDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select("user_id", "event_id", "event_type")
    // simulate at-least-once redelivery, then commit-sequence dedup.
    // ONE exchange serves both aggregates (guide §2.4): hash-partitioning
    // on user_id satisfies the dedup's (user_id, event_id) clustering by
    // the subset rule AND the per-user rollup, where the natural shape
    // (distinct → groupBy) exchanges twice — on (user_id, event_id) and
    // then again on user_id. Keyed repartition without an explicit count
    // stays AQE-coalescible (no post-shuffle fan-out here), so partition
    // sizing remains byte-driven at any scale.
    ev.unionAll(ev)
      .repartition(col("user_id"))
      .dropDuplicates("user_id", "event_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("event_id")).as("max_lsn"))
  }

  private def csvMd5Key(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
    li.withColumn("row_key",
      Sources.md5RowKey(li, Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")))
  }

  private def headerNormalize(spark: SparkSession, dir: String): DataFrame = {
    // messy headers in, normalized out (csv.go:122 rule)
    val messy = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("Order Key"),
        col("l_returnflag").as("Return Flag"),
        col("l_linestatus").as("Line STATUS"))
    messy.toDF(messy.columns.map(Sources.normalizeHeader).toIndexedSeq: _*)
  }

  private def jsonlParse(spark: SparkSession, dir: String): DataFrame =
    par(t(spark, dir, "events"), "event_id")
      .select(col("event_id"), col("props"))
      .withColumn("row_key", md5(col("props")))
      .withColumn("k_val",
        get_json_object(col("props"), "$.k").cast("bigint"))
      .select("event_id", "row_key", "k_val")

  private def partitionTemplate(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("y", year(col("ts")))
      .withColumn("m", month(col("ts")))
      .withColumn("d", dayofmonth(col("ts")))
      .withColumn("h", hour(col("ts")))
      .groupBy("y", "m", "d", "h")
      .agg(count(lit(1)).as("n"))

  private def streamWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        // micro-units BIGINT: the exact decimal sum scaled integral — a
        // representation-proof value for the driver's cross-engine hash
        // (DECIMAL renders differ; see VERDICT r1 "What's wrong" #1)
        (sum(col("value").cast("decimal(18,6)")) * 1000000)
          .cast("long").as("sum_value"))

  // -- relational primitives the engine uses internally (bench headliners) ------

  private def aggPushdown(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // money sums as integer cents (BIGINT): decimal sum is exact, the
        // scale-clearing multiply is exact, and BIGINT hashes identically
        // in Spark and DuckDB regardless of decimal rendering
        (sum(col("l_quantity").cast("decimal(18,2)")) * 100)
          .cast("long").as("sum_qty"),
        (sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")) * 10000).cast("long").as("revenue"),
        count(lit(1)).as("n"))

  private def broadcastJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("total"))
  }

  private def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    // guard BEFORE the window: the map-side WindowGroupLimit (top-3 per
    // group per partition) is the query's dominant per-row work and runs
    // on however many partitions the scan produced (guide §2.5)
    par(t(spark, dir, "lineitem")
        .select("l_suppkey", "l_extendedprice", "l_orderkey", "l_linenumber"),
      "l_orderkey")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("l_suppkey"), col("rank"), col("l_orderkey"), col("l_extendedprice"))
  }

  /** Distributed AS-OF join as an oracle-checked row: for each purchase
    * event, the latest click at-or-before it by the same user (classic
    * last-touch attribution). The Spark side is the single-shuffle
    * union-and-sweep in [[graft.operators.Relational.asofJoin]]; the
    * oracle is the O(n·m)-per-key declarative form (join + row_number) —
    * green iff the sweep picks exactly the max-ts eligible click per
    * purchase.
    */
  private def asofJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    graft.operators.Relational.asofJoin(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts")),
      ev.filter(col("event_type") === "click"),
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "ts", rightTime = "ts",
      rightCols = Seq("event_id", "value"))
  }

  /** Gap-based sessionization (30-min inactivity gap) over the events
    * stream, per user: session bounds + event counts, exact microsecond
    * gap arithmetic so any engine reproduces the split points.
    */
  private def sessionizeQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.sessionize(
      t(spark, dir, "events"), "user_id", "ts", gapSeconds = 1800)

  /** The LEFT-OUTER as-of variant as an oracle-checked row: every
    * purchase keeps its row; those with no preceding click carry NULL
    * `asof_*` columns — pinning the outer path's NULL semantics through
    * the driver's cross-engine hash.
    */
  private def asofJoinLeftQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    graft.operators.Relational.asofJoin(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts")),
      ev.filter(col("event_type") === "click"),
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "ts", rightTime = "ts",
      rightCols = Seq("event_id", "value"), leftOuter = true)
  }

  /** Bucketed time-range join as an oracle-checked row: every click in
    * the 24 h window before each purchase by the same user. The Spark
    * side is the binned equi-join in
    * [[graft.operators.Relational.rangeJoin]] (join on (key, ⌊t/W⌋),
    * exact interval post-filter — never a per-key cartesian); the oracle
    * is the declarative BETWEEN join.
    */
  private def rangeJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    graft.operators.Relational.rangeJoin(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts")),
      ev.filter(col("event_type") === "click"),
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "ts", rightTime = "ts",
      lowerSeconds = -86400L, upperSeconds = 0L,
      rightCols = Seq("event_id", "ts"))
  }

  // -- training-data operators ---------------------------------------------------

  private def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(spark, dir, "documents"), "doc_id", "text")

  /** The surviving rows of exact dedup (first doc_id per sha256(text)) —
    * the materialized complement of `dedup_exact`'s group summary.
    */
  private def dedupSurvivors(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactSurvivors(t(spark, dir, "documents"), "doc_id", "text")
      .select("doc_id", "lang", "source", "n_chars")

  private def tokenCount(spark: SparkSession, dir: String): DataFrame =
    par(t(spark, dir, "documents"), "doc_id")
      .select(col("doc_id"),
        TextAnalysis.alnumTokenCount(col("text")).cast("bigint").as("n_alnum_tokens"),
        TextAnalysis.wsTokenCount(col("text")).cast("bigint").as("n_ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("bigint").as("n_bpe_tokens"))

  private def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = par(t(spark, dir, "documents"), "doc_id")
    d.select(col("doc_id"),
      length(col("text")).cast("bigint").as("len_chars"),
      regexp_count(col("text"), lit("[\\.,;:!\\?]")).cast("bigint").as("n_punct"),
      regexp_count(lower(col("text")),
        lit("\\b(the|a|an|and|or|of|to|in|is|it)\\b")).cast("bigint").as("n_stop"))
  }

  /** Composite quality score, emitted as the exact integer count of
    * passed checks (score × 4): every term is an IEEE-exact 0.0/1.0
    * indicator and the ÷4/×4 are powers of two, so the value is
    * bit-stable cross-engine.
    */
  private def qualityScoreQ(spark: SparkSession, dir: String): DataFrame =
    par(t(spark, dir, "documents"), "doc_id").select(col("doc_id"),
      (TextAnalysis.qualityScore(col("text")) * 4).cast("long").as("checks_passed"))

  /** Gopher-style within-doc repetition filter features. */
  private def repetitionQ(spark: SparkSession, dir: String): DataFrame = {
    val base = par(t(spark, dir, "documents"), "doc_id")
    TextAnalysis.repetitionFeatures(col("text"))
      .foldLeft(base.select(col("doc_id"), col("text"))) {
        case (d, (n, c)) => d.withColumn(n, c)
      }.drop("text")
  }

  private def langId(spark: SparkSession, dir: String): DataFrame =
    par(t(spark, dir, "documents"), "doc_id")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_id"))

  private def fingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.rollingFingerprint(col("text")).as("fingerprint"))

  private def minhashNearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(t(spark, dir, "documents"), "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 4, threshold = 0.6)
      .select(col("id_a"), col("id_b")) // jaccard double excluded: cross-engine float

  private def simhashFingerprint(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashDf(par(t(spark, dir, "documents"), "doc_id"), "doc_id", "text")
      .toDF("doc_id", "simhash")

  private def simhashNearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(t(spark, dir, "documents"), "doc_id", "text",
      maxDist = 3)

  private def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(spark, dir, "documents"), "doc_id", "text",
      n = 3, threshold = 0.5).select(col("id_a"), col("id_b"))

  private def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id", "rank") // cos excluded: float
  }

  private def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10, nPlanes = 8, probeRadius = 1)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Recall of LSH top-k vs brute-force top-k, as checked integers per
    * query — turns ANN recall from a claim into a driver-verified number.
    */
  private def knnLshRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding",
        k = 10, nPlanes = 8, probeRadius = 1)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    // the ANN arm is ≤ k × |queries| rows — broadcast it (guide §3.1):
    // size estimates do not survive the window arms, so the planner
    // otherwise falls back to a SortMergeJoin of two ~50-row sides
    // (2 exchanges + 2 sorts), and the rollup below re-exchanges; with
    // the broadcast, the join and the groupBy both ride the brute arm's
    // existing query_id partitioning
    brute.join(broadcast(lsh), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("__hit")).as("n_hits"), count(lit(1)).as("n_exact"))
  }

  private def ivfKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10, nCells = 16, nProbe = 2)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Recall of IVF top-k vs brute-force top-k — same checked-integer
    * shape as knn_lsh_recall.
    */
  private def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    // broadcast the ≤ k × |queries|-row ANN arm — see knnLshRecall
    brute.join(broadcast(ivf), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("__hit")).as("n_hits"), count(lit(1)).as("n_exact"))
  }

  /** IVF with the quantized deterministic k-means quantizer (2 Lloyd
    * rounds): same search shape as `ivf_knn`, but the centroids are the
    * refined means. Oracle-checkable because the k-means update is exact
    * integer arithmetic (`floor(x·2^20)` i64 sums, one IEEE division) and
    * every cosine both engines compare is the same left-to-right double
    * fold — the oracle unrolls the two Lloyd rounds as CTE stages.
    */
  private def ivfKmeansKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10, nCells = 16, nProbe = 2, kmeansIters = 2)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Recall of the k-means-refined IVF vs brute force — the checked
    * number that makes the r4 quantizer (`Similarity.ivfCentroidsKmeans`)
    * driver-verified instead of spec-only.
    */
  private def ivfKmeansRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 2, kmeansIters = 2)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    // broadcast the ≤ k × |queries|-row ANN arm — see knnLshRecall
    brute.join(broadcast(ivf), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("__hit")).as("n_hits"), count(lit(1)).as("n_exact"))
  }

  private def cosineNearDups(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDups(t(spark, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4, nPlanes = 6)
      .select("id_a", "id_b") // cos excluded: float

  /** Cluster resolution over the minhash near-dup pairs: connected
    * components, keeper = min doc_id. The oracle recomputes components
    * from the EXACT all-pairs Jaccard pairs via a recursive CTE, so the
    * row is green iff LSH candidate recall is 1.0 on this corpus AND the
    * label propagation reached the true fixpoint.
    */
  private def clusterKeepers(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 4, threshold = 0.6)
      .select("id_a", "id_b")
    Curation.neardupClusters(docs, "doc_id", pairs)
  }

  /** The cluster-dedup APPLY step: documents that survive near-dup
    * cluster resolution (keeper = min doc_id per connected component of
    * the minhash pair graph; singletons survive as their own keeper).
    * This is the row set a training-data pipeline actually keeps —
    * `neardup_clusters` checks the labeling, this checks the
    * materialized survivor corpus.
    */
  private def neardupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      n = 3, bands = 16, rowsPerBand = 4, threshold = 0.6)
      .select("id_a", "id_b")
    val keepers = Curation.neardupClusters(docs, "doc_id", pairs)
    docs.join(keepers, "doc_id")
      .filter(col("doc_id") === col("keeper_id"))
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Deterministic stratified sampling: en at 1/2, de+fr at 1/4, other
    * strata at 1/8 — exact 32-bit integer thresholds on the md5-prefix
    * uniform, bit-reproducible in any engine.
    */
  private def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(
      t(spark, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id", "lang",
      Map("en" -> 2147483648L, "de" -> 1073741824L, "fr" -> 1073741824L),
      defaultThreshold = 536870912L)

  /** Benchmark contamination: corpus (doc_id ≥ 20) vs probe set
    * (doc_id < 20), shared word 4-grams per contaminated doc.
    */
  private def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    Curation.contamination(
      d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20),
      "doc_id", "text", n = 4)
  }

  /** The lake MERGE + bucket-pruned point lookup as an oracle-checked
    * row: ingest the events changelog into a fresh LakeTable (key =
    * user_id, purchase ⇒ delete) in one merge commit, then `lookup` the
    * smallest user id. The oracle recomputes that user's final state in
    * SQL — green iff the merge winner reduction, the manifest fold, the
    * typed bucket hash, AND the bucket pruning all agree with the
    * declarative semantics.
    */
  private def lakeLookup(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake-lookup").toString
    try {
      val lake = graft.lake.LakeTable(spark, tmp, Seq("user_id"), numBuckets = 8)
      lake.createIfAbsent(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, last_op STRING, last_value DOUBLE"))
      lake.merge(ev.select(
        col("user_id"),
        col("event_type").as("last_op"),
        col("value").as("last_value"),
        col("event_id").as("lsn"),
        when(col("event_type") === "purchase", "delete")
          .otherwise("upsert").as("op")), "lookup-q", 0L)
      val k = ev.agg(min(col("user_id"))).head().getLong(0)
      localized(spark, lake.lookup(Seq(k)))
    } finally rmTree(new java.io.File(tmp))
  }

  /** The lake incremental change feed as an oracle-checked row: three
    * merge commits (events split by event_id mod 3), then
    * `changeFeed(0, 3)` — per version, exactly that batch's winner set
    * with upserts AND tombstones and `__lsn`/`__deleted`/`__version`
    * provenance. The oracle recomputes each batch's per-key winner in
    * SQL. Also pins the single-scan feed plan's `__version` derivation
    * from file paths.
    */
  private def lakeChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake-feed").toString
    try {
      val lake = graft.lake.LakeTable(spark, tmp, Seq("user_id"), numBuckets = 8)
      lake.createIfAbsent(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, last_op STRING, last_value DOUBLE"))
      (0 until 3).foreach { b =>
        lake.merge(ev.filter(pmod(col("event_id"), lit(3)) === b).select(
          col("user_id"),
          col("event_type").as("last_op"),
          col("value").as("last_value"),
          col("event_id").as("lsn"),
          when(col("event_type") === "purchase", "delete")
            .otherwise("upsert").as("op")), "feed-q", b.toLong)
      }
      localized(spark, lake.changeFeed(0L, lake.currentVersion.get)
        .select("user_id", "last_op", "last_value",
          "__lsn", "__deleted", "__version"))
    } finally rmTree(new java.io.File(tmp))
  }

  /** Time travel as an oracle-checked row: the same three-merge fixture
    * as `lake_change_feed`, read back AS OF version 2 (after the second
    * merge, i.e. batches `event_id % 3 ∈ {0,1}`). The oracle recomputes
    * that historical winner set from first principles — green iff the
    * versioned snapshot + manifest-chain fold reconstructs exactly the
    * files live at v2 and the MOR resolve over them matches the
    * declarative latest-lsn-wins / tombstone-drop semantics.
    */
  private def lakeTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake-tt").toString
    try {
      val lake = graft.lake.LakeTable(spark, tmp, Seq("user_id"), numBuckets = 8)
      lake.createIfAbsent(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, last_op STRING, last_value DOUBLE"))
      (0 until 3).foreach { b =>
        lake.merge(ev.filter(pmod(col("event_id"), lit(3)) === b).select(
          col("user_id"),
          col("event_type").as("last_op"),
          col("value").as("last_value"),
          col("event_id").as("lsn"),
          when(col("event_type") === "purchase", "delete")
            .otherwise("upsert").as("op")), "tt-q", b.toLong)
      }
      localized(spark, lake.readVersion(2L)
        .select("user_id", "last_op", "last_value"))
    } finally rmTree(new java.io.File(tmp))
  }

  /** Major compaction + snapshot expiry as an oracle-checked row: three
    * merge commits, `compact(dropTombstones = true)` (rewrites every
    * live file, drops tombstones), then `expireSnapshots(keepLast = 1)`
    * (vacuums every pre-compaction file) before reading the final state.
    * The oracle recomputes the final winner set from the raw events —
    * green iff compaction preserves exactly the MOR-resolved state AND
    * the vacuum deleted only dead files (a live-file delete would surface
    * as missing rows or a read error).
    */
  private def lakeCompactedState(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake-compact").toString
    try {
      val lake = graft.lake.LakeTable(spark, tmp, Seq("user_id"), numBuckets = 8)
      lake.createIfAbsent(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, last_op STRING, last_value DOUBLE"))
      (0 until 3).foreach { b =>
        lake.merge(ev.filter(pmod(col("event_id"), lit(3)) === b).select(
          col("user_id"),
          col("event_type").as("last_op"),
          col("value").as("last_value"),
          col("event_id").as("lsn"),
          when(col("event_type") === "purchase", "delete")
            .otherwise("upsert").as("op")), "compact-q", b.toLong)
      }
      lake.compact(dropTombstones = true)
      lake.expireSnapshots(keepLast = 1)
      localized(spark, lake.read()
        .select("user_id", "last_op", "last_value"))
    } finally rmTree(new java.io.File(tmp))
  }

  /** Materialize a (small, query-result-sized) frame into a local
    * DataFrame so the temp LakeTable directory backing it can be deleted
    * before the caller ever evaluates the result — repeated bench/verify
    * replays must not leak parquet trees in tmp.
    */
  private def localized(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect().toIndexedSeq
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      df.schema)
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** Per-doc term salience as an oracle-checked row: the 3 terms of
    * each document with the lowest corpus document frequency (the rank
    * order TF-IDF induces over distinct per-doc term sets) — integer
    * arithmetic only, so the inverted index, the df aggregation, AND
    * the per-doc rank window are all pinned exactly.
    */
  private def rarestTermsQ(spark: SparkSession, dir: String): DataFrame =
    Curation.rarestTerms(t(spark, dir, "documents"), "doc_id", "text", k = 3)

  /** Exact grouped order statistics (per-language corpus length stats)
    * as an oracle-checked row: integer order-statistic indices
    * (ceil(n/2), ceil(9n/10)) instead of percentile interpolation, so
    * the numbers are engine-exact.
    */
  private def docStatsByLangQ(spark: SparkSession, dir: String): DataFrame =
    Curation.groupedOrderStats(
      t(spark, dir, "documents").select("lang", "n_chars", "doc_id"),
      "lang", "n_chars", "doc_id")

  /** Exact dedup over NORMALIZED text (lowercase, digit runs → 0,
    * whitespace collapsed): catches template/boilerplate duplicates that
    * differ only in numbers/case/layout — normalization strictly coarsens
    * the raw-sha grouping, so n_copies here ≥ dedup_exact's for every
    * surviving group.
    */
  private def dedupNormalized(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        sha2(TextAnalysis.normalizeForDedup(col("text")), 256).as("norm_sha"))
      .groupBy(col("norm_sha"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  private def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.synthetic(spark, 500))
      .toDF()
      .select(col("media_id"), col("modality"), col("n_bytes"),
        col("checksum"), col("decoded_units"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CDC / reference-fidelity
    "cdc_final_state" -> cdcFinalState,
    "cdc_dedup" -> cdcDedup,
    "csv_md5_key" -> csvMd5Key,
    "header_normalize" -> headerNormalize,
    "jsonl_parse" -> jsonlParse,
    "partition_template" -> partitionTemplate,
    "stream_window" -> streamWindow,
    // relational primitives
    "agg_pushdown" -> aggPushdown,
    "broadcast_join" -> broadcastJoin,
    "topk_per_group" -> topkPerGroup,
    "asof_join" -> asofJoinQ,
    "asof_join_left" -> asofJoinLeftQ,
    "range_join" -> rangeJoinQ,
    "sessionize" -> sessionizeQ,
    // training-data ops
    "dedup_exact" -> dedupExact,
    "dedup_survivors" -> dedupSurvivors,
    "token_count" -> tokenCount,
    "text_quality" -> textQuality,
    "quality_score" -> qualityScoreQ,
    "repetition" -> repetitionQ,
    "lang_id" -> langId,
    "fingerprint" -> fingerprint,
    "minhash_neardups" -> minhashNearDups,
    "simhash" -> simhashFingerprint,
    "simhash_neardups" -> simhashNearDups,
    "ngram_jaccard" -> ngramJaccard,
    "knn_brute" -> knnBrute,
    "knn_lsh" -> knnLsh,
    "knn_lsh_recall" -> knnLshRecall,
    "ivf_knn" -> ivfKnn,
    "ivf_recall" -> ivfRecall,
    "ivf_kmeans_knn" -> ivfKmeansKnn,
    "ivf_kmeans_recall" -> ivfKmeansRecall,
    "cosine_neardups" -> cosineNearDups,
    "neardup_clusters" -> clusterKeepers,
    "sample_stratified" -> sampleStratified,
    "contamination" -> contaminationCheck,
    "rarest_terms" -> rarestTermsQ,
    "doc_stats_by_lang" -> docStatsByLangQ,
    "multimodal_features" -> multimodalFeatures,
    "neardup_survivors" -> neardupSurvivors,
    "dedup_normalized" -> dedupNormalized,
    // lake maintenance surface (merge + lookup + change feed) as rows
    "lake_lookup" -> lakeLookup,
    "lake_change_feed" -> lakeChangeFeed,
    "lake_time_travel" -> lakeTimeTravel,
    "lake_compacted_state" -> lakeCompactedState)

  def oracleSql: Map[String, String] = Map(
    "cdc_final_state" ->
      """SELECT user_id, event_id AS last_lsn, event_type AS last_op, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 AND event_type <> 'purchase'""".stripMargin,
    "cdc_dedup" ->
      """SELECT user_id, count(*) AS n_events, max(event_id) AS max_lsn
        |FROM (SELECT DISTINCT user_id, event_id
        |      FROM (SELECT * FROM events UNION ALL SELECT * FROM events))
        |GROUP BY user_id""".stripMargin,
    "csv_md5_key" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
        |  md5(CAST(l_orderkey AS VARCHAR) || CAST(l_linenumber AS VARCHAR)
        |      || l_returnflag || l_linestatus) AS row_key
        |FROM lineitem""".stripMargin,
    "header_normalize" ->
      """SELECT l_orderkey AS order_key, l_returnflag AS return_flag,
        |  l_linestatus AS line_status
        |FROM lineitem""".stripMargin,
    "jsonl_parse" ->
      """SELECT event_id, md5(props) AS row_key,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events""".stripMargin,
    "partition_template" ->
      """SELECT CAST(date_part('year', ts) AS INTEGER) AS y,
        |  CAST(date_part('month', ts) AS INTEGER) AS m,
        |  CAST(date_part('day', ts) AS INTEGER) AS d,
        |  CAST(date_part('hour', ts) AS INTEGER) AS h,
        |  count(*) AS n
        |FROM events GROUP BY 1,2,3,4""".stripMargin,
    "stream_window" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value
        |FROM events GROUP BY 1,2""".stripMargin,
    "agg_pushdown" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1,2""".stripMargin,
    "broadcast_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "topk_per_group" ->
      """SELECT l_suppkey, CAST(rank AS INTEGER) AS rank, l_orderkey, l_extendedprice
        |FROM (SELECT l_suppkey, l_orderkey, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_suppkey
        |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
        |      FROM lineitem) t
        |WHERE rank <= 3""".stripMargin,
    // declarative as-of: per purchase, the max-ts click with ts <= the
    // purchase ts for the same user; ties (none in this data — (user,ts)
    // is unique) break by event_id DESC, matching the sweep's
    // largest-right-struct tie-break
    "asof_join" ->
      """SELECT purchase_id, user_id, ts,
        |  event_id AS asof_event_id, value AS asof_value
        |FROM (SELECT p.event_id AS purchase_id, p.user_id, p.ts,
        |        c.event_id, c.value,
        |        row_number() OVER (PARTITION BY p.event_id
        |          ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |      FROM events p JOIN events c
        |        ON c.user_id = p.user_id AND c.ts <= p.ts
        |         AND c.event_type = 'click'
        |      WHERE p.event_type = 'purchase') t
        |WHERE rn = 1""".stripMargin,
    // the LEFT-OUTER as-of: purchases with no preceding click keep
    // their row with NULL asof_* (the click filter must live in the ON
    // clause, not WHERE, to preserve outer semantics)
    "asof_join_left" ->
      """SELECT purchase_id, user_id, ts,
        |  event_id AS asof_event_id, value AS asof_value
        |FROM (SELECT p.event_id AS purchase_id, p.user_id, p.ts,
        |        c.event_id, c.value,
        |        row_number() OVER (PARTITION BY p.event_id
        |          ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |      FROM events p LEFT JOIN events c
        |        ON c.user_id = p.user_id AND c.ts <= p.ts
        |         AND c.event_type = 'click'
        |      WHERE p.event_type = 'purchase') t
        |WHERE rn = 1""".stripMargin,
    // declarative range join: every click within the 24h before each
    // purchase by the same user (both ends inclusive)
    "range_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts,
        |  c.event_id AS r_event_id, c.ts AS r_ts
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'""".stripMargin,
    // 30-min-gap sessions per user, exact microsecond gap arithmetic
    "sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM g)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY user_id, session_seq""".stripMargin,
    "dedup_exact" ->
      """SELECT sha256(text) AS sha, min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_survivors" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM (SELECT *, row_number() OVER (PARTITION BY sha256(text)
        |        ORDER BY doc_id) AS rn FROM documents)
        |WHERE rn = 1""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_alnum_tokens,
        |  CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+'))
        |    AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS len_chars,
        |  CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS BIGINT) AS n_punct,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS BIGINT) AS n_stop
        |FROM documents""".stripMargin,
    // the C4/Gopher-style composite: 4 indicator checks (punct ratio,
    // stopword ratio, token count, mean word length), each an IEEE-exact
    // 0/1, reported as the integer number passed
    "quality_score" ->
      """SELECT doc_id, CAST(
        |    (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
        |  + (CASE WHEN stopword_ratio >= 0.05 AND stopword_ratio <= 0.6 THEN 1.0 ELSE 0.0 END)
        |  + (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
        |  + (CASE WHEN mean_word_len >= 2.0 AND mean_word_len <= 12.0 THEN 1.0 ELSE 0.0 END)
        |  AS BIGINT) AS checks_passed
        |FROM (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS DOUBLE)
        |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS DOUBLE)
        |      / greatest(CAST(nt AS DOUBLE), 1.0) AS stopword_ratio,
        |    nt AS n_tokens,
        |    CAST(length(text) - (nt - 1) AS DOUBLE)
        |      / greatest(CAST(nt AS DOUBLE), 1.0) AS mean_word_len
        |  FROM (SELECT doc_id, text,
        |          len(regexp_split_to_array(trim(text), '\s+')) AS nt
        |        FROM documents))""".stripMargin,
    // within-doc duplicate-3-gram fraction as exact integer permille;
    // slots = max(tokens-2, 1) aligns with the shingle short-doc corner
    "repetition" ->
      """SELECT doc_id,
        |  CAST(greatest(len(toks) - 2, 1) AS BIGINT) AS n_gram_slots,
        |  CAST(len(grams) AS BIGINT) AS n_gram_distinct,
        |  CAST(1000 - (len(grams) * 1000) // greatest(len(toks) - 2, 1) AS BIGINT) AS dup_permille
        |FROM (SELECT doc_id, toks,
        |    list_distinct(list_transform(range(0, greatest(len(toks)-3, 0)+1),
        |      i -> array_to_string(list_slice(toks, i+1, i+3), ' '))) AS grams
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(text), '\W+'), t -> t <> '') AS toks
        |        FROM documents))""".stripMargin,
    "lang_id" ->
      """SELECT doc_id,
        |  CASE WHEN best = 0 THEN 'und'
        |       WHEN s_en = best THEN 'en'
        |       WHEN s_de = best THEN 'de'
        |       WHEN s_fr = best THEN 'fr'
        |       WHEN s_es = best THEN 'es'
        |       WHEN s_zh = best THEN 'zh'
        |       ELSE 'und' END AS lang_id
        |FROM (SELECT doc_id,
        |        len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|for|with|this|have)\b')) AS s_en,
        |        len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|eine|mit|für)\b')) AS s_de,
        |        len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|pour|dans|que|avec)\b')) AS s_fr,
        |        len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|para|que|con|por|del)\b')) AS s_es,
        |        len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS s_zh,
        |        greatest(
        |          len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|for|with|this|have)\b')),
        |          len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|eine|mit|für)\b')),
        |          len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|pour|dans|que|avec)\b')),
        |          len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|para|que|con|por|del)\b')),
        |          len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]'))) AS best
        |      FROM documents) t""".stripMargin,
    "fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,
    "knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(e.embedding, q.qv) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
        |FROM ranked WHERE rank <= 10""".stripMargin,
    // exact inverted-index oracle for the word-3-gram Jaccard pairs;
    // mirrors wordShingles exactly (incl. the short-doc single shingle)
    "ngram_jaccard" ->
      s"""WITH $shingleCte,
        |posts AS (SELECT id, sz, unnest(grams) AS g FROM sz),
        |freq AS (SELECT g, count(*) AS df FROM posts GROUP BY g),
        |fp AS (SELECT p.id, p.sz, p.g FROM posts p JOIN freq USING (g) WHERE df <= 1000),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b, count(*) AS inter
        |  FROM fp a JOIN fp b ON a.g = b.g AND a.id < b.id
        |  GROUP BY 1,2,3,4)
        |SELECT id_a, id_b FROM pairs
        |WHERE CAST(inter AS DOUBLE)/(sz_a+sz_b-inter) >= 0.5""".stripMargin,
    // exact all-pairs Jaccard at the minhash threshold: green iff the
    // banded-LSH candidate generation has recall 1.0 on this corpus
    // (the planted near-dups sit at j≥0.97, where P(miss) ≈ 1e-15) —
    // a real recall check, not a tautology
    "minhash_neardups" ->
      s"""WITH $shingleCte,
        |posts AS (SELECT id, sz, unnest(grams) AS g FROM sz),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b, count(*) AS inter
        |  FROM posts a JOIN posts b ON a.g = b.g AND a.id < b.id
        |  GROUP BY 1,2,3,4)
        |SELECT id_a, id_b FROM pairs
        |WHERE CAST(inter AS DOUBLE)/(sz_a+sz_b-inter) >= 0.6""".stripMargin,
    "simhash" ->
      s"""WITH $simhashFpCte
        |SELECT d.doc_id, COALESCE(fp.sh, 0) AS simhash
        |FROM documents d LEFT JOIN fp USING (doc_id)""".stripMargin,
    // Spark computes pairs via pigeonhole quarter-buckets, which is
    // recall-complete for Hamming ≤ 3 — so the exact all-pairs scan IS
    // the oracle
    "simhash_neardups" ->
      s"""WITH $simhashFpCte,
        |f AS (SELECT d.doc_id AS id, COALESCE(fp.sh, 0) AS sh
        |      FROM documents d LEFT JOIN fp USING (doc_id))
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM f a JOIN f b ON a.id < b.id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin,
    // the QCG hyperplanes are pure i64 arithmetic, so the oracle
    // recomputes the exact buckets (incl. radius-1 multi-probe)
    "knn_lsh" -> knnLshOracleSql,
    "knn_lsh_recall" ->
      s"""WITH brute AS (
        |  WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |  scored AS (
        |    SELECT q.query_id, e.vec_id AS neighbor_id,
        |      list_cosine_similarity(e.embedding, q.qv) AS cos
        |    FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |  ranked AS (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM scored)
        |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 10),
        |lsh AS ($knnLshOracleSql)
        |SELECT b.query_id, count(l.neighbor_id) AS n_hits, count(*) AS n_exact
        |FROM brute b LEFT JOIN lsh l USING (query_id, neighbor_id)
        |GROUP BY 1""".stripMargin,
    "ivf_knn" -> ivfKnnOracleSql,
    "ivf_kmeans_knn" -> ivfKmeansKnnOracleSql,
    "ivf_kmeans_recall" ->
      s"""WITH brute AS (
        |  WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |  scored AS (
        |    SELECT q.query_id, e.vec_id AS neighbor_id,
        |      list_cosine_similarity(e.embedding, q.qv) AS cos
        |    FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |  ranked AS (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM scored)
        |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 10),
        |ivfk AS ($ivfKmeansKnnOracleSql)
        |SELECT b.query_id, count(i.neighbor_id) AS n_hits, count(*) AS n_exact
        |FROM brute b LEFT JOIN ivfk i USING (query_id, neighbor_id)
        |GROUP BY 1""".stripMargin,
    "ivf_recall" ->
      s"""WITH brute AS (
        |  WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |  scored AS (
        |    SELECT q.query_id, e.vec_id AS neighbor_id,
        |      list_cosine_similarity(e.embedding, q.qv) AS cos
        |    FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |  ranked AS (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM scored)
        |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 10),
        |ivf AS ($ivfKnnOracleSql)
        |SELECT b.query_id, count(i.neighbor_id) AS n_hits, count(*) AS n_exact
        |FROM brute b LEFT JOIN ivf i USING (query_id, neighbor_id)
        |GROUP BY 1""".stripMargin,
    "cosine_neardups" ->
      s"""WITH c AS (SELECT vec_id AS id, embedding,
        |    ${lshBucketSql("embedding", 6)} AS bucket FROM embeddings)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM c a JOIN c b ON a.bucket = b.bucket AND a.id < b.id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4""".stripMargin,
    // connected components from the EXACT all-pairs Jaccard pairs at the
    // same threshold, via a recursive min-label closure — green iff LSH
    // pair recall is 1.0 AND the Spark label propagation hit the true
    // fixpoint (keeper = min doc_id per component; singletons keep
    // themselves)
    "neardup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
        |posts AS (SELECT id, sz, unnest(grams) AS g FROM sz),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM posts a JOIN posts b ON a.g = b.g AND a.id < b.id
        |  GROUP BY a.id, b.id, a.sz, b.sz
        |  HAVING CAST(count(*) AS DOUBLE)/(a.sz+b.sz-count(*)) >= 0.6),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS label FROM sz
        |  UNION
        |  SELECT e.v AS id, r.label FROM reach r JOIN edges e ON e.u = r.id)
        |SELECT id AS doc_id, min(label) AS keeper_id FROM reach GROUP BY id""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE ${hexFoldSql("substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)")} <
        |  CASE lang WHEN 'en' THEN 2147483648
        |            WHEN 'de' THEN 1073741824
        |            WHEN 'fr' THEN 1073741824
        |            ELSE 536870912 END""".stripMargin,
    "contamination" ->
      s"""WITH ${shingleCteN(4)},
        |g4 AS (SELECT id AS doc_id, unnest(grams) AS g FROM sz),
        |p AS (SELECT DISTINCT doc_id AS probe_id, g FROM g4 WHERE doc_id < 20),
        |c AS (SELECT doc_id, g FROM g4 WHERE doc_id >= 20)
        |SELECT c.doc_id, count(DISTINCT c.g) AS n_matched_grams,
        |  count(DISTINCT p.probe_id) AS n_probe_docs
        |FROM c JOIN p USING (g) GROUP BY 1""".stripMargin,
    // per-doc rarest-term ranking: distinct unigram postings, corpus
    // document frequency, rank by (df asc, term asc) per doc — the
    // TF-IDF salience order, integer-exact
    "rarest_terms" ->
      s"""WITH ${shingleCteN(1)},
        |toks AS (SELECT id AS doc_id, unnest(grams) AS term FROM sz),
        |dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY 1)
        |SELECT doc_id, term, df, CAST(rn AS INTEGER) AS rank
        |FROM (SELECT t.doc_id, t.term, d.df,
        |        row_number() OVER (PARTITION BY t.doc_id
        |          ORDER BY d.df, t.term) AS rn
        |      FROM toks t JOIN dfreq d USING (term)) r
        |WHERE rn <= 3""".stripMargin,
    // exact per-language order statistics: integer indices ceil(n/2) /
    // ceil(9n/10) over rows ordered by (n_chars, doc_id) — no
    // percentile interpolation, engine-exact
    "doc_stats_by_lang" ->
      """WITH r AS (SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, max(n) AS n_rows, min(n_chars) AS min_v,
        |  max(n_chars) AS max_v,
        |  max(CASE WHEN rn = (n+1)//2 THEN n_chars END) AS median_v,
        |  max(CASE WHEN rn = (9*n+9)//10 THEN n_chars END) AS p90_v
        |FROM r GROUP BY lang""".stripMargin,
    // exact dedup on the dedup-normalized form: lowercase, digit runs
    // folded to 0, whitespace collapsed, trimmed — both engines replace
    // ALL occurrences (Spark regexp_replace default; DuckDB 'g' flag)
    "dedup_normalized" ->
      """SELECT sha256(trim(regexp_replace(regexp_replace(lower(text),
        |    '[0-9]+', '0', 'g'), '\s+', ' ', 'g'))) AS norm_sha,
        |  min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // survivor corpus of cluster dedup: same recursive min-label closure
    // as neardup_clusters, keeping only rows whose keeper is themselves
    "neardup_survivors" ->
      s"""WITH RECURSIVE $shingleCte,
        |posts AS (SELECT id, sz, unnest(grams) AS g FROM sz),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM posts a JOIN posts b ON a.g = b.g AND a.id < b.id
        |  GROUP BY a.id, b.id, a.sz, b.sz
        |  HAVING CAST(count(*) AS DOUBLE)/(a.sz+b.sz-count(*)) >= 0.6),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS label FROM sz
        |  UNION
        |  SELECT e.v AS id, r.label FROM reach r JOIN edges e ON e.u = r.id),
        |keep AS (SELECT id AS doc_id, min(label) AS keeper FROM reach GROUP BY id)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN keep USING (doc_id)
        |WHERE keep.keeper = d.doc_id""".stripMargin,
    // the lake merge reducer + bucket-pruned lookup from first principles:
    // final state (latest lsn wins, purchase ⇒ tombstone) of the smallest
    // user id
    "lake_lookup" ->
      """SELECT user_id, event_type AS last_op, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 AND event_type <> 'purchase'
        |  AND user_id = (SELECT min(user_id) FROM events)""".stripMargin,
    // per-batch winner sets (batch = event_id mod 3 → version batch+1),
    // tombstones included, with lsn/deleted/version provenance
    "lake_change_feed" ->
      """SELECT user_id, event_type AS last_op, value AS last_value,
        |  event_id AS __lsn, (event_type = 'purchase') AS __deleted,
        |  (event_id % 3) + 1 AS __version
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_id % 3
        |        ORDER BY event_id DESC) AS rn FROM events) t
        |WHERE rn = 1""".stripMargin,
    // table state AS OF version 2 = winners over the first two merge
    // batches (event_id % 3 < 2), tombstones dropped
    "lake_time_travel" ->
      """SELECT user_id, event_type AS last_op, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id % 3 < 2) t
        |WHERE rn = 1 AND event_type <> 'purchase'""".stripMargin,
    // final state must survive major compaction + snapshot expiry
    // unchanged: winners over ALL events, tombstones dropped
    "lake_compacted_state" ->
      """SELECT user_id, event_type AS last_op, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 AND event_type <> 'purchase'""".stripMargin,
    // regenerates Multimodal.synthetic + decodeStub's arithmetic outputs
    // from first principles (payload byte j of media i = (i*31+j*7)%251)
    "multimodal_features" ->
      """SELECT i AS media_id,
        |  CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(64 + i % 192 AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(range(0, 64 + i % 192), j -> (i*31 + j*7) % 251)) AS BIGINT) AS checksum,
        |  CAST(CASE CAST(i % 3 AS INTEGER)
        |    WHEN 0 THEN (64 + i % 64) * 64
        |    WHEN 1 THEN 16000 * (1000 + i % 5000) // 1000
        |    ELSE (1000 + i % 5000) // 40 END AS BIGINT) AS decoded_units
        |FROM range(0, 500) t(i)""".stripMargin)
    // rows-only (no SQL oracle): none — every registered query above has a
    // DuckDB oracle; probabilistic ops are pinned by arithmetic-reproducible
    // hashing (md5-prefix folds, QCG hyperplanes) instead of xxhash64.

  // -- oracle SQL generators ------------------------------------------------

  /** Word-n-gram shingle sets per doc, exactly `Dedup.wordShingles`:
    * tokens = lower, split on \W+, drop empties; shingle i = tokens
    * [i+1..i+n] joined by space for i in 0..max(len-n,0); distinct.
    */
  private def shingleCteN(n: Int): String =
    s"""sz AS (
      |  SELECT doc_id AS id, len(grams) AS sz, grams FROM (
      |    SELECT doc_id,
      |      list_distinct(list_transform(range(0, greatest(len(toks)-$n, 0)+1),
      |        i -> array_to_string(list_slice(toks, i+1, i+$n), ' '))) AS grams
      |    FROM (SELECT doc_id,
      |            list_filter(regexp_split_to_array(lower(text), '\\W+'), t -> t <> '') AS toks
      |          FROM documents)))""".stripMargin

  private def shingleCte: String = shingleCteN(3)

  /** Numeric value of 15 hex chars (60 bits), folded digit-by-digit —
    * DuckDB has no conv(); this reproduces Spark's
    * conv(substring(md5(t),a,15),16,10) exactly.
    */
  private def hexFoldSql(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(split($expr, ''), " +
      "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), (a, b) -> a*16 + b)"

  /** SimHash fingerprint CTE ending in `fp(doc_id, sh)` — the exact
    * arithmetic of `Dedup.simhashDf` (60 bits from two md5-prefix halves,
    * ±1 votes per token occurrence, bit = sign(vote sum) > 0).
    */
  private def simhashFpCte: String = {
    val votes = (0 until Dedup.SimhashBits).map { b =>
      val (h, s) = if (b < 30) ("lo", b) else ("hi", b - 30)
      s"sum(CASE WHEN (($h >> $s) & 1) = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val bits = (0 until Dedup.SimhashBits)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ") // disjoint bit positions: + == OR
    s"""tok AS (SELECT doc_id,
      |  unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'), t -> t <> '')) AS t
      |  FROM documents),
      |h AS (SELECT doc_id, ${hexFoldSql("substr(md5(t), 1, 15)")} AS lo,
      |  ${hexFoldSql("substr(md5(t), 16, 15)")} AS hi FROM tok),
      |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
      |fp AS (SELECT doc_id, $bits AS sh FROM v)""".stripMargin
  }

  /** The `Similarity.planeComponent`/`lshSignature` arithmetic in SQL:
    * bucket = Σ_p [proj_p ≥ 0] · 2^p, proj_p = Σ_d vec[d] · plane(p,d),
    * plane(p,d) = QCG(p·8191+d+1)/2^31 − 0.5 — all exact i64 + IEEE
    * double ops, bit-identical across engines.
    */
  private def lshBucketSql(vec: String, nPlanes: Int): String = {
    def u1(p: Int) = s"((1103515245*($p*8191 + d + 1) + 12345) % 2147483648)"
    def comp(p: Int) =
      s"(CAST((${u1(p)}*${u1(p)} + 1013904223) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)"
    def proj(p: Int) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(0, len($vec)), " +
        s"d -> CAST($vec[CAST(d+1 AS INTEGER)] AS DOUBLE) * ${comp(p)})), (acc, x) -> acc + x)"
    (0 until nPlanes)
      .map(p => s"(CASE WHEN ${proj(p)} >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString("(", " + ", ")")
  }

  private def knnLshOracleSql: String =
    s"""WITH c AS (SELECT vec_id AS neighbor_id, embedding,
      |    ${lshBucketSql("embedding", 8)} AS bucket FROM embeddings),
      |q0 AS (SELECT vec_id AS query_id, embedding AS qv,
      |    ${lshBucketSql("embedding", 8)} AS bucket0 FROM embeddings WHERE vec_id < 5),
      |q AS (SELECT query_id, qv,
      |    unnest([bucket0] || list_transform(range(0, 8), p -> xor(bucket0, 1 << p))) AS bucket
      |  FROM q0),
      |scored AS (
      |  SELECT q.query_id, c.neighbor_id, list_cosine_similarity(c.embedding, q.qv) AS cos
      |  FROM c JOIN q USING (bucket) WHERE c.neighbor_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
      |FROM ranked WHERE rank <= 10""".stripMargin

  // -- exact-IEEE vector folds (the arithmetic `VecDot`/`norm` perform,
  //    reproduced op-for-op so both engines compare identical doubles) ----

  /** Left-to-right double dot-product fold — bit-identical to
    * `graft.functions.VecDot` (and to the `aggregate(zip_with(...))` HOF
    * it replaces).
    */
  private def dotFoldSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(0, len($a)), " +
      s"d -> $a[CAST(d+1 AS INTEGER)] * $b[CAST(d+1 AS INTEGER)])), " +
      "(acc, x) -> acc + x)"

  private def normFoldSql(a: String): String = s"sqrt(${dotFoldSql(a, a)})"

  /** `cos = dot(v, cv) / (nv · cn)` with pre-folded norms — the exact
    * expression `Similarity.ivfAssignInline`/`cosine` evaluate.
    */
  private def cosFoldSql(v: String, nv: String, cv: String, cn: String): String =
    s"(${dotFoldSql(v, cv)} / ($nv * $cn))"

  /** One unrolled Lloyd round `c{i-1} → c{i}`: assign every vector to its
    * argmax-cosine cell (ties by lowest cid — row_number order), then the
    * QUANTIZED mean update — per (cell, dim) the exact i64 sum of
    * `floor(x·2^20)` divided once in IEEE double, exactly
    * `Similarity.ivfCentroidsKmeans`'s order-insensitive arithmetic.
    * Empty cells keep their previous centroid (the LEFT JOIN + COALESCE).
    */
  private def kmeansRoundCte(i: Int): String = {
    val prev = s"c${i - 1}"
    s"""a$i AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${cosFoldSql("e.v", "e.nv", "c.cv", "c.cn")} DESC, c.cid) AS rk
      |    FROM e, $prev c) WHERE rk = 1),
      |s$i AS (
      |  SELECT cid, d,
      |    sum(CAST(floor(v[CAST(d+1 AS INTEGER)] * 1048576.0) AS BIGINT)) AS s,
      |    count(*) AS n
      |  FROM (SELECT cid, v, unnest(range(0, len(v))) AS d FROM a$i)
      |  GROUP BY cid, d),
      |m$i AS (
      |  SELECT cid, list(CAST(s AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) ORDER BY d) AS cv
      |  FROM s$i GROUP BY cid),
      |c$i AS (
      |  SELECT c.cid, COALESCE(m.cv, c.cv) AS cv,
      |    ${normFoldSql("COALESCE(m.cv, c.cv)")} AS cn
      |  FROM $prev c LEFT JOIN m$i m USING (cid))""".stripMargin
  }

  /** The k-means IVF index from first principles: seeds = 16 lowest-id
    * vectors, TWO unrolled quantized Lloyd rounds, then the same
    * assignment/probe/search as `ivf_knn` against the refined centroids —
    * exactly `Similarity.ivfTopK(nCells=16, nProbe=2, kmeansIters=2)`.
    * Every float op either engine performs is the same left-to-right
    * IEEE-double fold, and the centroid update is exact integer
    * arithmetic, so the index — not just the answer — is reproduced.
    */
  private def ivfKmeansKnnOracleSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    ${normFoldSql("list_transform(embedding, x -> CAST(x AS DOUBLE))")} AS nv
      |  FROM embeddings),
      |c0 AS (
      |  SELECT vec_id AS cid, v AS cv, nv AS cn
      |  FROM e ORDER BY vec_id LIMIT 16),
      |${kmeansRoundCte(1)},
      |${kmeansRoundCte(2)},
      |cell AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${cosFoldSql("e.v", "e.nv", "c.cv", "c.cn")} DESC, c.cid) AS rk
      |    FROM e, c2 c) WHERE rk = 1),
      |q AS (
      |  SELECT vec_id AS query_id, v AS qv, nv AS nq, cid FROM (
      |    SELECT e.vec_id, e.v, e.nv, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${cosFoldSql("e.v", "e.nv", "c.cv", "c.cn")} DESC, c.cid) AS rk
      |    FROM e, c2 c WHERE e.vec_id < 5) WHERE rk <= 2),
      |cand AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id,
      |    ${cosFoldSql("c.v", normFoldSql("c.v"), "q.qv", "q.nq")} AS cos
      |  FROM cell c JOIN q ON c.cid = q.cid WHERE c.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM cand)
      |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
      |FROM ranked WHERE rank <= 10""".stripMargin

  /** IVF index from first principles: centroids = 16 lowest-id vectors,
    * assignment = argmax cosine (ties by cid), queries probe their 2
    * nearest cells — exactly `Similarity.ivfTopK(nCells=16, nProbe=2)`.
    */
  private def ivfKnnOracleSql: String =
    """WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 16),
      |rc AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid) AS crank
      |  FROM embeddings e, cent c),
      |cell AS (SELECT vec_id, embedding, cid FROM rc WHERE crank = 1),
      |q AS (SELECT vec_id AS query_id, embedding AS qv, cid
      |      FROM rc WHERE vec_id < 5 AND crank <= 2),
      |cand AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(c.embedding, q.qv) AS cos
      |  FROM cell c JOIN q ON c.cid = q.cid WHERE c.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM cand)
      |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank
      |FROM ranked WHERE rank <= 10""".stripMargin
}
