package graft.llm

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Corpus analysis + deduplication (SURVEY §2.10) — the operators a
  * large-scale training-data pipeline runs over raw document tables.
  *
  * Scale notes (100 TB posture):
  *  - q_dedup_exact is the canonical shape: group on a content hash
  *    (sha256), keep min doc_id. The shuffle is keyed by hash — uniform by
  *    construction (no skew), volume O(distinct docs), never a window over
  *    everything and never a driver-side collect.
  *  - q_dedup_near is MinHash+LSH: shingle → binary feature vector →
  *    minhash band signatures → candidate pairs via LSH bucket join →
  *    exact Jaccard filter. Cost is O(candidates), not O(n²); the
  *    approxSimilarityJoin threshold and table count are pinned constants
  *    so results are reproducible (seed fixed).
  */
object Dedup {

  /** q_text_stats — per (lang, source): corpus size, char-length stats,
    * token stats, and type-token ratio. Two partial aggregates (doc-level
    * and token-level) joined on the group key — both map-side combined. */
  def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // ratio outputs (avg of ints, k/n) use floor(x·1e6)/1e6, not round():
    // rationals can sit exactly on a half-way decimal where Spark
    // (decimal HALF_UP) and DuckDB (binary round) split (SURVEY §7.4.9)
    val docStats = docs.groupBy("lang", "source").agg(
      count(lit(1)).as("n_docs"),
      (floor(avg("n_chars") * 1e6) / 1e6).as("avg_chars"),
      min("n_chars").as("min_chars"),
      max("n_chars").as("max_chars"))
    val tokStats = docs
      .select(col("lang"), col("source"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy("lang", "source").agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_types"))
      .select(col("lang"), col("source"), col("n_tokens"),
        (floor(col("n_types") / col("n_tokens") * 1e6) / 1e6).as("ttr"))
    docStats.join(tokStats, Seq("lang", "source"))
      .orderBy("lang", "source")
  }

  /** q_dedup_exact — canonical doc per content hash: keep min doc_id,
    * count duplicates. */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    // NOT spread (round 22): per-doc sha256 is cheap enough that the
    // extra exchange's 32-task scheduling overhead costs more than the
    // serial hash at sf0.1 (measured 0.36 → 0.72 s min-of-3) — the
    // map-side partial agg keeps the shuffle tiny either way
    Tables.documents(s, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("dup_count"))
      .select("keeper_id", "h", "dup_count")
      .orderBy("keeper_id")

  /** The featured cache + the LSH pair-join PLAN (pre-checkpoint), split
    * out so PlanSpec can pin the load-bearing broadcast (VERDICT r16
    * item 4): the cache's InMemoryRelation statistics are what let the
    * exploded bucket join plan as BroadcastHashJoin — a refactor or a
    * Spark upgrade that silently degrades it to sort-merge is the
    * documented 6 s → 230 s cliff. Caller owns unpersisting `featured`
    * once the pairs are materialized. */
  private[graft] def nearDupPairsPlan(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // Round 22 — two repairs to the measured 3 s serial cost center:
    //  - spread the unsplittable one-task scan before the shingle
    //    transform (guide §2.5; no-op at scale);
    //  - materialize the shingles with a lazy localCheckpoint BEFORE the
    //    non-empty filter. Without the barrier, Catalyst pushed
    //    `size(tokens) > 0` below the exchange to the scan, substituting
    //    toks = split(text) INTO the shingle lambda — the re-split-per-
    //    element O(tokens²·len) form TextOps.ngrams's discipline
    //    exists to avoid — evaluated serially in the scan task AND again
    //    (linearly) above the exchange. Measured: the pushed filter alone
    //    was ~3 s wall ≈ cpu (one core) at sf0.1; the whole key scaled
    //    1.07× from 8→32 cores because of it (VERDICT r21 item 4).
    val docs = Tables.spread(Tables.documents(s, dir)
        .select(col("doc_id"), col("text")))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("tokens",
        array_distinct(graft.text.TextOps.ngrams("toks", 3)))
      .select(col("doc_id"), col("tokens"))
      .localCheckpoint(false)
      .filter(size(col("tokens")) > 0)
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("features")
      .setNumFeatures(1 << 16).setBinary(true)
    // cache() here is LOAD-BEARING for the plan, not just for reuse: the
    // InMemoryRelation's size statistics let approxSimilarityJoin's
    // exploded bucket join broadcast; swapping in localCheckpoint (tried
    // round 4) erases the stats (LogicalRDD defaults to "huge") and the
    // join degrades to a sort-merge over interpreted vector-key ordering
    // — 6 s → 230 s at sf0.1. Q's cache-ownership contract is met below
    // by materializing the result eagerly and unpersisting on exit.
    val featured = tf.transform(docs).select("doc_id", "features").cache()
    // 4 tables: for pairs at Jaccard ≥ 0.9 the per-table miss rate is
    // ≤ 0.1, so P(missed by all 4) ≤ 1e-4 — and the seeded outcome is
    // fixed; the test asserts parity with the exact n-gram pairs. Halves
    // the LSH join cost vs 8 tables (the bench's slowest key).
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("sig")
      .setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(featured)
    // Candidate generation inlined from approxSimilarityJoin's published
    // shape (explode signatures, equi-join per (table, hash), exact
    // keyDistance on candidates) with two plan repairs (round 21):
    //  - the bucket join keys are PRIMITIVE (entry int, hash double via
    //    vector_to_array) instead of VectorUDT cells, so the join and
    //    its dedup run in codegen;
    //  - the candidate DISTINCT runs over (id_a, id_b) ONLY — MLlib's
    //    form dedups full rows carrying the 65k-dim feature vector and
    //    the signature array through the exchange. Features rejoin from
    //    the (cached, broadcast) table for the exact filter afterwards.
    // The collision set is unchanged (same signatures, same per-table
    // equality), and the distance IS the model's own keyDistance, so
    // the emitted pairs and jaccard values are identical.
    val expl = model.transform(featured)
      .select(col("doc_id"),
        posexplode(col("sig")).as(Seq("entry", "hv")))
      .select(col("doc_id"), col("entry"),
        org.apache.spark.ml.functions.vector_to_array(col("hv"))
          .getItem(0).as("h"))
    val cand = expl.as("a").join(expl.as("b"),
        col("a.entry") === col("b.entry") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val mdl = model
    val distU = udf((x: org.apache.spark.ml.linalg.Vector,
        y: org.apache.spark.ml.linalg.Vector) =>
      org.apache.spark.ml.graft.LshBridge.jaccardDistance(mdl, x, y))
    val pairs = cand
      .join(featured.select(col("doc_id").as("id_a"),
        col("features").as("fa")), "id_a")
      .join(featured.select(col("doc_id").as("id_b"),
        col("features").as("fb")), "id_b")
      .withColumn("jaccard_dist", distU(col("fa"), col("fb")))
      .filter(col("jaccard_dist") < 0.2)
      .select(col("id_a"), col("id_b"),
        round(lit(1.0) - col("jaccard_dist"), 6).as("jaccard"))
    (featured, pairs)
  }

  /** q_dedup_near — MinHash-LSH near-duplicate pairs with Jaccard ≥ 0.8
    * over distinct 3-token shingle sets. Unigram sets are useless on a
    * small vocabulary (nearly all pairs collide); 3-gram shingles separate
    * the corpus's constructed near-dups (Jaccard ≈ 0.99) from everything
    * else (< 0.2). No oracle (LSH banding is not reproducible in DuckDB);
    * the scalatest suite asserts recall/precision on the constructed
    * pairs. */
  def qDedupNear(s: SparkSession, dir: String): DataFrame = {
    val (featured, plan) = nearDupPairsPlan(s, dir)
    // eager: the tiny pair set is materialized while `featured` is still
    // cached; the cache is then released (Q cache-ownership contract)
    val pairs = plan.localCheckpoint(true)
    featured.unpersist()
    pairs.orderBy("id_a", "id_b")
  }

  val queries: Map[String, Q] = Map(
    "q_text_stats" -> (qTextStats _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_near" -> (qDedupNear _))

  val oracle: Map[String, String] = Map(
    "q_text_stats" ->
      """WITH doc_stats AS (
        |  SELECT lang, source, COUNT(*) AS n_docs,
        |    floor(AVG(n_chars) * 1e6) / 1e6 AS avg_chars,
        |    MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |  FROM documents GROUP BY lang, source),
        |tok AS (
        |  SELECT lang, source, COUNT(*) AS n_tokens,
        |    floor(COUNT(DISTINCT token) * 1.0 / COUNT(*) * 1e6) / 1e6 AS ttr
        |  FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY lang, source)
        |SELECT lang, source, n_docs, avg_chars, min_chars, max_chars,
        |  n_tokens, ttr
        |FROM doc_stats JOIN tok USING (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS keeper_id, sha256(text) AS h,
        |  COUNT(*) AS dup_count
        |FROM documents
        |GROUP BY sha256(text)
        |ORDER BY keeper_id""".stripMargin)
}
