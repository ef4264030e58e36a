package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Corpus-curation operators for training-data preparation (SURVEY §2.13):
  * stratified sampling (data mixing), token-budget sequence packing, and
  * repetition-based quality filtering (the Gopher-rule family that survives
  * this corpus' no-newline synthetic text — line-based rules would be
  * vacuous here).
  *
  * Scale notes (100 TB posture):
  *  - q_sample_stratified is a pure pushdown-friendly filter — per-stratum
  *    rates compile to one scan predicate, no shuffle, no per-stratum pass.
  *  - q_pack_sequences packs within (lang, shard) hash shards, NOT per
  *    language: a per-lang ordered cumulative sum is a single-reducer
  *    bottleneck at corpus scale, while per-shard packing is embarrassingly
  *    parallel and loses at most one under-filled bin per shard. The shard
  *    count is the parallelism knob (4 here for a readable fixture; O(cores)
  *    at scale).
  *  - q_quality_repetition shuffles token-level rows only as keyed partial
  *    aggregates (doc_id, bigram) — map-side combine bounds the shuffle by
  *    per-doc distinct bigrams; the final per-doc join is key-unique on
  *    doc_id (no skew).
  */
object Curation {

  /** q_sample_stratified — per-stratum deterministic sampling (training-mix
    * rebalancing): downsample the majority language to 1/4 by key-modulo,
    * keep 1/2 of everything else. Key-modulo, not seeded sample(): the
    * rate is exact per stratum, reproducible across engines, and the whole
    * operator is one sargable scan predicate (SURVEY §2.2 q_sample_det
    * rationale, applied per stratum). */
  def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(
        (col("lang") === "en" && col("doc_id") % 4 === 0) ||
        (col("lang") =!= "en" && col("doc_id") % 2 === 0))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** q_pack_sequences — contiguous-fill sequence packing: within each
    * (lang, shard = doc_id % 4) shard, docs in doc_id order are assigned to
    * the bin holding the running token count before them (budget 2048
    * tokens; a doc may overflow its bin by design — greedy packing never
    * splits a document). Emits per-bin stats, the packing manifest a
    * training loader would consume. */
  def qPackSequences(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir).select(
      col("lang"),
      (col("doc_id") % 4).as("shard"),
      col("doc_id"),
      size(split(col("text"), " ")).as("tok"))
    val cum = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("bin",
        floor((sum("tok").over(cum).cast("double") - col("tok")) / 2048.0))
      .groupBy("lang", "shard", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("tok").as("total_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("lang", "shard", "bin")
  }

  /** q_quality_repetition — Gopher-style repetition signals per doc:
    * duplicate-token ratio (1 − distinct/total) and top-bigram fraction
    * (most frequent bigram / all bigrams), plus the composite flag. Ratios
    * floor-truncated at 1e-6 on both engines (SURVEY §7.4.9 — round() is a
    * half-way-split trap for rational k/n). Thresholds 0.55 / 0.05 sit at
    * the corpus medians so the flag genuinely partitions the fixture. */
  def qQualityRepetition(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val base = toks.select(
      col("doc_id"),
      size(col("toks")).as("n_tokens"),
      size(array_distinct(col("toks"))).as("n_distinct"))
    val bgStats = toks
      .select(col("doc_id"),
        explode(graft.text.TextOps.ngrams("toks", 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_c"), sum("c").as("n_bg"))
    base.join(bgStats, "doc_id")
      .withColumn("dup_ratio",
        floor((col("n_tokens") - col("n_distinct")) * lit(1e6)
          / col("n_tokens")) / lit(1e6))
      .withColumn("top_bigram_ratio",
        floor(col("top_c") * lit(1e6) / col("n_bg")) / lit(1e6))
      .withColumn("flagged",
        col("dup_ratio") > 0.55 || col("top_bigram_ratio") > 0.05)
      .select("doc_id", "n_tokens", "dup_ratio", "top_bigram_ratio",
        "flagged")
      .orderBy("doc_id")
  }

  /** q_text_chunk — sliding-window token chunking (round 7): each doc is
    * cut into C=32-token chunks at stride S=24 (8-token overlap), the
    * context-window preparation step for training/retrieval over a corpus
    * whose documents exceed the model window. Emits the chunk manifest
    * (index, token count, md5 of the chunk text — not the text, so the
    * output stays narrow). Chunk starts come from `sequence(0, n-1, S)`
    * over the PRE-SPLIT token array (lambda discipline: never re-split
    * inside a higher-order function); the explode is partition-local —
    * chunking is embarrassingly parallel, no shuffle at any scale. */
  def qTextChunk(s: SparkSession, dir: String): DataFrame = {
    val C = 32
    val S = 24
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr(s"sequence(0, greatest(n - 1, 0), $S)")).as("start"))
      .select(col("doc_id"),
        (col("start") / S).cast("int").as("chunk_idx"),
        least(lit(C), col("n") - col("start")).cast("int")
          .as("chunk_tokens"),
        md5(concat_ws(" ", expr(s"slice(toks, start + 1, $C)")))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** q_sample_pergroup — deterministic per-group inspection sample
    * (round 7): exactly 5 docs per source, chosen by the engine-portable
    * md5 hash order (h32(doc_id), doc_id tie-break) — the "show me a few
    * random-but-reproducible docs from every source" query a curation
    * review runs after each ingest, with membership stable across
    * engines/runs (a seeded sample() is neither). Scale shape: one
    * shuffle on the group key, partition-local rank, k tiny — per-group
    * top-k never concentrates on one reducer beyond a group's own rows. */
  def qSamplePergroup(s: SparkSession, dir: String): DataFrame = {
    val h = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)" +
        " as bigint)")
    val w = Window.partitionBy("source").orderBy(h.asc, col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .orderBy("source", "rk")
  }

  /** q_sample_budget — token-budget-constrained sampling (round 9): per
    * language, fill a 5 000-token budget with documents taken in the
    * engine-portable hash order (h32(doc_id), doc_id tie-break — the
    * q_sample_pergroup idiom), keeping each doc whose RUNNING token
    * count before it is under budget (greedy fill; the last doc may
    * overflow — never split a document). This is the data-mixing
    * primitive every training run executes: "give me ~N tokens per
    * language, reproducibly."
    *
    * Scale shape — exact DISTRIBUTED prefix-sum, not a per-lang window:
    * a naive `SUM OVER (PARTITION BY lang ORDER BY h)` sends each
    * language's entire corpus through one reducer (the q_pack_sequences
    * bottleneck, but here the greedy fill needs the EXACT global order,
    * so hash-sharding alone doesn't compose). Instead h's RANGE is cut
    * into 8 buckets (bucket = h >> 29 — monotone in h, so bucket
    * boundaries respect the global order and uniform h keeps them
    * balanced): pass A aggregates per-(lang, bucket) token totals — an
    * O(langs × 8)-row manifest — and takes the exclusive prefix over
    * buckets on that tiny table; pass B computes the partition-LOCAL
    * exclusive cumsum inside each (lang, bucket) and adds the broadcast
    * bucket offset. Same result as the single-reducer window (the
    * oracle recomputes exactly that), with per-bucket parallelism. */
  def qSampleBudget(s: SparkSession, dir: String): DataFrame = {
    val budget = 5000L
    val h = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)" +
        " as bigint)")
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("tok"), h.as("h"))
      .withColumn("bucket", shiftright(col("h"), 29))
    // pass A: per-(lang, bucket) totals → exclusive prefix over the
    // O(langs × buckets) manifest (the only cross-bucket step)
    val offsets = d.groupBy("lang", "bucket").agg(sum("tok").as("btok"))
      .withColumn("offset", coalesce(
        sum("btok").over(Window.partitionBy("lang").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "bucket", "offset")
    // pass B: bucket-local running sum + broadcast offset = exact
    // global running count in (h, doc_id) order
    val local = Window.partitionBy("lang", "bucket")
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("cum_before",
        col("offset") + sum("tok").over(local) - col("tok"))
      .filter(col("cum_before") < budget)
      .select("doc_id", "lang", "tok", "cum_before")
      .orderBy("doc_id")
  }

  /** q_split_holdout — cross-split LEAKAGE AUDIT over the deterministic
    * holdout split (round 13): uses the same stable hash-bucket
    * assignment as [[graft.llm.Governance.qSplitHash]] (h32(doc_id) %
    * 100 → <90 train, <95 valid, else test — docs never migrate splits
    * as the corpus grows), but where q_split_hash emits the
    * stratification manifest, THIS key audits the split's integrity:
    * each held-out doc is probed against the train split's exact-text
    * fingerprint set, because a valid/test doc whose text appears
    * verbatim in train inflates every eval score — the elementary form
    * of the contamination q_decontam_ngram/_embed catch fuzzily, run on
    * the TRAIN/EVAL boundary instead of the corpus/benchmark boundary.
    * Output: per-split doc/token totals plus the leaked-doc count (the
    * go/no-go number a training run checks before consuming the split).
    *
    * Scale shape: assignment is a pure scan-side projection (no
    * shuffle); the audit builds the train fingerprint set as a DISTINCT
    * md5 aggregate (shuffle bounded by distinct texts, not docs — at
    * 100 TB the fingerprint table is what a pipeline persists anyway,
    * see q_dedup_manifest_update) and probes it with a left_semi join;
    * the final rollup is a ≤3-group aggregate. No broadcast hint: the
    * train fingerprint set is ~90% of the corpus's distinct texts —
    * unbounded in corpus size — so the planner must stay free to pick
    * a shuffled semi-join at scale (it broadcasts at harness scale on
    * its own, under autoBroadcastJoinThreshold). At real scale the
    * semi join shuffles on the 16-byte fingerprint — never full text. */
  def qSplitHoldout(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)" +
        " as bigint) % 100")
    // ONE corpus scan (round 22, guide §2.4): the narrow
    // (split, tok, fp) projection is lazily checkpointed for its three
    // consumers — previously the scan + tokenize + md5 subtree
    // re-evaluated per consumer (three documents scans, the text md5
    // computed twice). The materialized frame drops `text` entirely:
    // ~30 bytes/doc, exactly the fingerprint table the scale posture
    // above says a pipeline persists anyway.
    val d = Tables.documents(s, dir)
      .select(bucket.as("bucket"),
        size(split(col("text"), " ")).cast("long").as("tok"),
        md5(col("text")).as("fp"))
      .select(
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "valid").otherwise("test")
          .as("split"),
        col("tok"), col("fp"))
      .localCheckpoint(false)
    val trainFp = d.filter(col("split") === "train")
      .select("fp").distinct()
    val leaked = d.filter(col("split") =!= "train")
      .join(trainFp, Seq("fp"), "left_semi")
      .groupBy("split").agg(count(lit(1)).as("n_leaked"))
    d.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .join(leaked, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
      .orderBy("split")
  }

  val queries: Map[String, Q] = Map(
    "q_split_holdout" -> (qSplitHoldout _),
    "q_sample_pergroup" -> (qSamplePergroup _),
    "q_sample_budget" -> (qSampleBudget _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_quality_repetition" -> (qQualityRepetition _),
    "q_text_chunk" -> (qTextChunk _))

  val oracle: Map[String, String] = Map(
    "q_split_holdout" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 100 AS bucket
        |  FROM documents),
        |sp AS (
        |  SELECT *, CASE WHEN bucket < 90 THEN 'train'
        |                 WHEN bucket < 95 THEN 'valid'
        |                 ELSE 'test' END AS split
        |  FROM d),
        |train_fp AS (
        |  SELECT DISTINCT md5(text) AS fp FROM sp WHERE split = 'train'),
        |leaked AS (
        |  SELECT split, COUNT(*) AS n_leaked FROM sp
        |  WHERE split <> 'train'
        |    AND md5(text) IN (SELECT fp FROM train_fp)
        |  GROUP BY split),
        |agg AS (
        |  SELECT split, COUNT(*) AS n_docs,
        |    CAST(SUM(tok) AS BIGINT) AS n_tokens
        |  FROM sp GROUP BY split)
        |SELECT a.split, a.n_docs, a.n_tokens,
        |  COALESCE(l.n_leaked, 0) AS n_leaked
        |FROM agg a LEFT JOIN leaked l ON a.split = l.split
        |ORDER BY a.split""".stripMargin,
    "q_sample_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, tok,
        |    CAST(SUM(tok) OVER (PARTITION BY lang ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - tok AS cum_before
        |  FROM d)
        |SELECT doc_id, lang, tok, cum_before
        |FROM c WHERE cum_before < 5000
        |ORDER BY doc_id""".stripMargin,
    "q_sample_pergroup" ->
      """SELECT doc_id, source, lang, n_chars, rk FROM (
        |  SELECT doc_id, source, lang, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
        |        1, 8))::BIGINT, doc_id) AS INT) AS rk
        |  FROM documents)
        |WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE (lang = 'en' AND doc_id % 4 = 0)
        |   OR (lang <> 'en' AND doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT lang, doc_id % 4 AS shard, doc_id,
        |    len(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, shard, doc_id, tok,
        |    CAST(FLOOR((CAST(SUM(tok) OVER (PARTITION BY lang, shard
        |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) - tok)
        |      / 2048.0) AS BIGINT) AS bin
        |  FROM t)
        |SELECT lang, shard, bin, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2, 3
        |ORDER BY lang, shard, bin""".stripMargin,
    "q_quality_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
        |    CAST(len(list_distinct(t)) AS INT) AS n_distinct FROM toks),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i + 1])) AS bg
        |  FROM toks),
        |bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |bgs AS (
        |  SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bg FROM bgc
        |  GROUP BY 1)
        |SELECT b.doc_id, n_tokens,
        |  FLOOR((n_tokens - n_distinct) * 1e6 / n_tokens) / 1e6
        |    AS dup_ratio,
        |  FLOOR(top_c * 1e6 / n_bg) / 1e6 AS top_bigram_ratio,
        |  (FLOOR((n_tokens - n_distinct) * 1e6 / n_tokens) / 1e6 > 0.55
        |   OR FLOOR(top_c * 1e6 / n_bg) / 1e6 > 0.05) AS flagged
        |FROM base b JOIN bgs USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_text_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n, unnest(range(0, n, 24)) AS start
        |  FROM d)
        |SELECT doc_id, CAST(start // 24 AS INT) AS chunk_idx,
        |  CAST(LEAST(32, n - start) AS INT) AS chunk_tokens,
        |  md5(array_to_string(toks[start + 1 : start + 32], ' '))
        |    AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)
}
