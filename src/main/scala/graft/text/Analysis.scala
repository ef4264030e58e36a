package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Text-analysis operators for training-data curation (beyond SURVEY §2.9):
  * n-gram-profile language identification, heuristic quality scoring, and
  * rolling-hash document fingerprinting. All fully declarative → exact
  * DuckDB oracles.
  *
  * Scale notes: langid's per-language profiles are tiny aggregates
  * (top-20 bigrams × 5 languages) broadcast to the scoring join; quality
  * scoring is a pure projection; fingerprinting is explode→min/max
  * aggregation (map-side combined). Nothing shuffles token-level rows
  * except keyed partial aggregates.
  */
object Analysis {

  private def withToks(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))

  /** q_text_langid — n-gram-profile language ID: build top-20 token-bigram
    * profiles per language from the corpus, score each doc by profile
    * overlap, predict the best-scoring language (ties → lang asc). The
    * heuristic's accuracy depends on how language-distinct the corpus
    * vocabulary is; the operator contract is the deterministic pipeline. */
  def qTextLangid(s: SparkSession, dir: String): DataFrame = {
    // checkpointed (lazily — materialized inside the first consuming
    // job, no extra serialized setup job): BOTH the profile build and
    // the scoring join consume this frame — un-checkpointed, each
    // consumer re-ran the scan→split→bigram→explode→distinct subtree
    // (round-21 before-plan: two full parquet scans of documents).
    // Narrow (id, lang, bg) rows, outside the SQL cache
    // (cache-ownership contract).
    val docBigrams = withToks(Tables.spread(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))))
      .select(col("doc_id"), col("lang"),
        explode(TextOps.ngrams("toks", 2)).as("bg"))
      .distinct()
      .localCheckpoint(false)
    val profiles = docBigrams
      .groupBy("lang", "bg").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang")
          .orderBy(col("cnt").desc, col("bg").asc)))
      .filter(col("rn") <= 20)
      .select(col("lang").as("cand_lang"), col("bg"))
    val scores = docBigrams.select("doc_id", "lang", "bg")
      .join(broadcast(profiles), Seq("bg"))
      .groupBy("doc_id", "lang", "cand_lang")
      .agg(count(lit(1)).as("score"))
    scores
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("cand_lang").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("cand_lang").as("pred_lang"),
        col("score"))
      .orderBy("doc_id")
  }

  /** Name of the observed-metrics node attached to [[qTextQuality]]. */
  val QualityMetricsName = "q_text_quality_metrics"

  /** q_text_quality — heuristic quality score per doc: token count,
    * mean token length, stop-word ratio, distinct-token ratio, and a
    * fixed linear composite. (No punctuation/case signals exist in the
    * harness corpus; the operator shape is what carries to real data.)
    *
    * Carries a `Dataset.observe` metrics node — the monitoring hook a
    * 100 TB pipeline runs with: row count, degenerate-doc count, and
    * char-length extrema accumulate task-side during the SAME pass (no
    * second job, no collect) and surface per-action via
    * `queryExecution.observedMetrics` / QueryExecutionListener. The
    * node sits ABOVE the final sort, not on the scan: a global orderBy
    * is a range exchange whose bounds come from a SAMPLING pass over
    * the child, so a scan-side observe would double-count every row
    * (found by PlanSpec when this was first scan-side). */
  def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    val stopList = TextOps.stopWords.map(w => s"'$w'").mkString(", ")
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      // raw (unrounded) ratios feed the composite so both engines round
      // exactly once, from identical inputs
      .withColumn("r_mean",
        (col("n_chars") - (size(col("toks")) - 1)) / size(col("toks")))
      .withColumn("r_stop",
        expr(s"size(filter(toks, t -> t IN ($stopList)))") /
          size(col("toks")))
      .withColumn("r_dist",
        size(array_distinct(col("toks"))) / size(col("toks")))
      // floor(x·1e6)/1e6 instead of round(): the ratios are rationals that
      // can land exactly on a half-way decimal, where Spark (decimal-repr
      // HALF_UP) and DuckDB (binary round) split. floor over bit-identical
      // doubles is identical on both engines by construction.
      .select(col("doc_id"), col("n_chars"),
        size(col("toks")).as("n_tokens"),
        (floor(col("r_mean") * 1e6) / 1e6).as("mean_tok_len"),
        (floor(col("r_stop") * 1e6) / 1e6).as("stop_ratio"),
        (floor(col("r_dist") * 1e6) / 1e6).as("distinct_ratio"),
        (floor((lit(0.5) * col("r_dist") +
          lit(0.3) * (lit(1.0) - col("r_stop")) +
          lit(0.2) * least(size(col("toks")) / lit(100.0), lit(1.0)))
          * 1e6) / 1e6).as("quality"))
      .orderBy("doc_id")
      .observe(QualityMetricsName,
        count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") === 0, 1L).otherwise(0L))
          .as("n_empty_text"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
  }

  /** q_text_fingerprint — rolling-hash fingerprint: md5-derived 32-bit
    * hash per token-bigram shingle; doc fingerprint = (min, max) shingle
    * hash + shingle cardinality. Equal fingerprints ⇒ near-identical
    * shingle sets (the winnowing primitive). */
  def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    withToks(Tables.documents(s, dir))
      .select(col("doc_id"), explode(TextOps.ngrams("toks", 2)).as("sh"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(sh), 1, 8), 16, 10) as bigint)")
          .as("h"))
      .groupBy("doc_id")
      .agg(min("h").as("fp_min"), max("h").as("fp_max"),
        countDistinct(col("h")).as("n_shingles"))
      .orderBy("doc_id")

  /** q_text_tokens — token counting under two tokenizers (the pipeline's
    * cost estimator): whitespace words vs a BPE-ish regex segmentation
    * (letter runs | digit runs | single non-alphanumeric marks — the
    * word-boundary pre-split every BPE vocabulary applies before merges).
    * The pattern keeps to the Java∩RE2 regex intersection (char classes
    * and alternation only, SURVEY §7.4.4). */
  def qTextTokens(s: SparkSession, dir: String): DataFrame = {
    val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_bpe"))
      .withColumn("bpe_per_word",
        floor(col("n_bpe") / col("n_ws") * 1e6) / 1e6)
      .orderBy("doc_id")
  }

  /** q_text_vocab — corpus vocabulary build (round 7): token frequencies,
    * min-count floor 5, top-100 by (count desc, token asc) with dense
    * lexicon ranks — the seed table for tokenizer training and OOV
    * monitoring. Scale shape: one keyed partial aggregate (map-side
    * combine bounds the shuffle by per-partition distinct tokens) and a
    * TakeOrderedAndProject top-k — the rank window runs AFTER the limit,
    * over ≤100 rows, so the no-partition window is bounded by
    * construction, never corpus-sized. */
  def qTextVocab(s: SparkSession, dir: String): DataFrame = {
    val counts = withToks(Tables.documents(s, dir))
      .select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .orderBy(desc("n"), col("token"))
      .limit(100)
    // constant-valued but NON-foldable partition key (a foldable literal
    // folds away to an empty spec): silences the WindowExec
    // single-partition warning for a window that is provably bounded —
    // it runs post-limit over ≤ 100 rows (round-10 verdict wart #3)
    counts.withColumn("rank",
        row_number().over(Window
          .partitionBy(substring(col("token"), 0, 0))
          .orderBy(desc("n"), col("token"))))
      .select("rank", "token", "n")
      .orderBy("rank")
  }

  /** Vocabulary cap for BPE training: merges are learned over the top-V
    * tokens by (count desc, token asc). The cap is what makes the state
    * scale-free — at 100 TB the distinct-token table is unbounded
    * (noise, URLs, typos), but every production BPE trainer learns from
    * a frequency-capped word-count dictionary; the tail it drops barely
    * carries pair weight by construction. 4096 covers the whole harness
    * vocabulary (≈1.4k distinct tokens at sf0.1 after the floor). */
  private[graft] val BpeVocabCap = 4096

  /** Deterministic BPE merge training core: returns the learned merge
    * table and the final per-word symbolization.
    *
    * Two-phase shape (round 12, replacing the round-11
    * driver-synchronized distributed loop): the CORPUS work — tokenize +
    * weighted word count + frequency cap — is one distributed aggregate,
    * exactly as before; the MERGE loop then runs driver-local over the
    * collected ≤[[BpeVocabCap]]-row dictionary. The collect is bounded
    * by construction (the cap IS the algorithm — production BPE trainers
    * learn from a capped word-count dictionary), which makes this the
    * broadcast-codebook pattern ([[graft.llm.Similarity]] PQ), not a
    * driver-side materialization of distributed data: at 100 TB the
    * corpus scan grows, the 4096-row training state does not. The
    * round-11 version ran each of the N rounds as a distributed
    * aggregate over that same 4096-row table — 2 Spark jobs per round of
    * pure scheduler overhead (~6.4 s at sf0.1 for 50 rounds, the bench's
    * slowest key); locally the identical loop is milliseconds.
    * Determinism: ties break (weight desc, lhs asc, rhs asc) under
    * UTF-8 BINARY string order — the same ordering the distributed
    * `orderBy` on UTF8String uses — so the tie-break is corpus-
    * independent: Java's native UTF-16 code-unit order diverges from
    * code-point order for supplementary-plane characters (ADVICE r12),
    * which would make the "byte-identical merges" guarantee silently
    * depend on the corpus staying BMP-only. Merges apply left-to-right
    * non-overlapping via the same fold, so the merge table is a pure
    * function of the corpus. */
  /** UTF-8 binary string comparison (== code-point order) — matches the
    * UTF8String ordering a distributed `orderBy` applies, for all of
    * Unicode, not just the BMP (ADVICE r12). */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Merge-round winner order: weight desc, then (lhs, rhs) in UTF-8
    * binary order. */
  private val bpeTieOrder: Ordering[((String, String), Long)] =
    new Ordering[((String, String), Long)] {
      def compare(p: ((String, String), Long),
          q: ((String, String), Long)): Int = {
        val byW = java.lang.Long.compare(q._2, p._2) // weight DESC
        if (byW != 0) byW
        else {
          val byL = utf8Compare(p._1._1, q._1._1)
          if (byL != 0) byL else utf8Compare(p._1._2, q._1._2)
        }
      }
    }

  private[graft] def bpeTrain(s: SparkSession, dir: String, nMerges: Int)
      : (Seq[(String, String, Long)], DataFrame) = {
    // distributed phase: one corpus scan → capped weighted dictionary
    val vocabRows = withToks(Tables.documents(s, dir))
      .select(explode(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token")).limit(BpeVocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // local phase: N merge rounds over the bounded dictionary
    val weights = vocabRows.map(_._2)
    var syms: Array[Array[String]] = vocabRows.map(_._1.split(""))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var round = 0
    while (round < nMerges) {
      val pairW = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      for (i <- syms.indices; j <- 0 until syms(i).length - 1) {
        val k = (syms(i)(j), syms(i)(j + 1))
        pairW.update(k, pairW.getOrElse(k, 0L) + weights(i))
      }
      if (pairW.isEmpty) round = nMerges // degenerate: nothing to merge
      else {
        val ((l, r), w) = pairW.min(bpeTieOrder)
        merges += ((l, r, w))
        val lr = l + r
        syms = syms.map { arr =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          arr.foreach { x =>
            if (out.nonEmpty && out.last == l && x == r)
              out(out.length - 1) = lr
            else out += x
          }
          out.toArray
        }
      }
      round += 1
    }
    import s.implicits._
    val vocab = vocabRows.zip(syms)
      .map { case ((t, n), sy) => (t, n, sy.toSeq) }.toSeq
      .toDF("token", "n", "syms")
    (merges.toSeq, vocab)
  }

  /** The PERSISTED tokenizer artifact (round 13): ensures the trained
    * BPE state for this corpus exists on disk and returns its base path.
    * Two parquet tables — `merges` (rank, lhs, rhs, freq: the 50-row
    * rank-ordered merge table, THE artifact a tokenizer trainer ships)
    * and `vocab` (token, n, syms: the ≤[[BpeVocabCap]]-row trained
    * dictionary with each word's final symbolization). Training runs at
    * most ONCE per (corpus fingerprint, JVM run): every later caller —
    * q_text_bpe re-emitting the merge table, q_text_bpe_apply tokenizing
    * the corpus — reads the artifact and never touches the trainer, so a
    * bench/verify run pays one corpus training scan total. This is the
    * tokenizer's build-once/serve-forever split, same lifecycle as
    * q_sim_index_persist's ANN index and q_agg_sketch_persist's daily
    * sketches: at 100 TB the tokenizer is trained by one scheduled job
    * and applied by every downstream pipeline from the ~50-row parquet.
    * The `_GRAFT_DONE` marker commits the pair of writes atomically
    * enough for this single-JVM scratch (the path embeds the run nonce —
    * no cross-process races by construction). */
  private[graft] def bpeArtifact(s: SparkSession, dir: String): String = {
    val base = graft.Scratch.dir("text",
      s"bpe_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_" +
        graft.Scratch.fingerprint(dir, "documents"))
    val marker = new java.io.File(base, "_GRAFT_DONE")
    if (!marker.exists()) {
      val (merges, vocab) = bpeTrain(s, dir, nMerges = 50)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((l, r, w), i) => (i + 1, l, r, w) }
        .toDF("rank", "lhs", "rhs", "freq")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$base/merges")
      vocab.repartition(1)
        .write.mode("overwrite").parquet(s"$base/vocab")
      marker.createNewFile()
    }
    base
  }

  /** q_text_bpe — deterministic BPE merge training (round 11): learn 50
    * byte-pair merges over the corpus vocabulary and emit the merge
    * table — rank, the merged pair, the resulting symbol, and the
    * weighted pair frequency that won the round. This is the tokenizer-
    * training stage of the LLM data pipeline (the seed table is
    * q_text_vocab's shape); the merge table is the artifact a trainer
    * ships — and since round 13 it literally IS a shipped artifact: the
    * key materializes [[bpeArtifact]] and re-emits the persisted merge
    * table, so train-then-apply workloads share one training run.
    * Test-verified (PropertySpec: cross-run determinism, symbol
    * = lhs||rhs, the compression-ratio property, and the from-disk
    * round-trip equalling a direct in-memory train); no oracle — N
    * sequential argmax rounds are not expressible as one SQL query. */
  def qTextBpe(s: SparkSession, dir: String): DataFrame = {
    val base = bpeArtifact(s, dir)
    s.read.parquet(s"$base/merges")
      .select(col("rank"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("freq"))
      .orderBy("rank")
  }

  /** Apply the learned merge table to ONE word: the same rank-ordered,
    * left-to-right non-overlapping fold the trainer runs, so
    * `bpeSymCount(merges)(w)` == the trained symbolization length for
    * every in-vocabulary word (PropertySpec pins this equality over the
    * whole dictionary). Exposed for the OOV fallback in
    * [[qTextBpeApply]]. */
  private[graft] def bpeSymCount(merges: Seq[(String, String)])
      (word: String): Int = {
    var syms: Array[String] = word.split("")
    merges.foreach { case (l, r) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      syms.foreach { x =>
        if (out.nonEmpty && out.last == l && x == r)
          out(out.length - 1) = l + r
        else out += x
      }
      syms = out.toArray
    }
    syms.length
  }

  /** q_text_bpe_apply — tokenize the corpus under the TRAINED BPE merges
    * (round 12, the apply side of [[qTextBpe]]): per document, the word
    * count, the BPE token count, the raw character count of the words,
    * and the realized compression ratio. This is the pipeline stage that
    * actually runs at corpus scale once a tokenizer exists — token-cost
    * accounting under the real vocabulary (q_text_tokens' regex
    * estimator is the pre-tokenizer approximation of this).
    *
    * Scale shape (round 13: the apply side no longer trains): the
    * PERSISTED tokenizer artifact ([[bpeArtifact]] — trained at most
    * once per corpus) supplies both tiers from disk. The ≤4096-row
    * trained dictionary broadcast-joins the exploded corpus
    * (in-vocabulary words, the overwhelming mass by construction: the
    * dictionary IS the frequency head) and resolves to a precomputed
    * symbol count with zero per-row merge work; only out-of-vocabulary
    * tail words fall through to the 50-merge fold (the rank-ordered
    * merge table read from parquet — 50 rows, collected and
    * closure-captured, evaluated lazily via coalesce short-circuit).
    * One corpus scan for the apply itself; the training scan is paid
    * once per corpus ever, not per caller. Test-verified
    * (dictionary-consistency: the fold reproduces every trained
    * symbolization; OOV monotonicity; from-disk round-trip equality);
    * no oracle — counts depend on the learned merges, which SQL cannot
    * re-learn. */
  def qTextBpeApply(s: SparkSession, dir: String): DataFrame = {
    val base = bpeArtifact(s, dir)
    // bounded collect: the merge table is 50 rows by construction
    val pairs = s.read.parquet(s"$base/merges").orderBy("rank")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val oovCount = udf(bpeSymCount(pairs) _)
    val dict = s.read.parquet(s"$base/vocab")
      .select(col("token"), size(col("syms")).as("n_syms"))
    withToks(Tables.documents(s, dir))
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .join(broadcast(dict), Seq("token"), "left")
      .withColumn("n_bpe", coalesce(col("n_syms"), oovCount(col("token"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_bpe")).as("n_bpe_tokens"),
        sum(length(col("token"))).as("n_chars"))
      .withColumn("compression",
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_text_bpe_apply" -> (qTextBpeApply _),
    "q_text_langid" -> (qTextLangid _),
    "q_text_quality" -> (qTextQuality _),
    "q_text_fingerprint" -> (qTextFingerprint _),
    "q_text_tokens" -> (qTextTokens _),
    "q_text_vocab" -> (qTextVocab _),
    "q_text_bpe" -> (qTextBpe _))

  val oracle: Map[String, String] = {
    val stopList = TextOps.stopWords.map(w => s"'$w'").mkString(", ")
    Map(
      "q_text_langid" ->
        """WITH db AS (
          |  SELECT DISTINCT doc_id, lang, bg
          |  FROM (SELECT doc_id, lang,
          |          unnest(list_transform(
          |            range(1, len(string_split(text, ' '))),
          |            i -> string_split(text, ' ')[i] || ' ' ||
          |                 string_split(text, ' ')[i + 1])) AS bg
          |        FROM documents)),
          |profiles AS (
          |  SELECT lang AS cand_lang, bg FROM (
          |    SELECT lang, bg, COUNT(*) AS cnt,
          |      row_number() OVER (PARTITION BY lang
          |        ORDER BY COUNT(*) DESC, bg ASC) AS rn
          |    FROM db GROUP BY lang, bg)
          |  WHERE rn <= 20),
          |scores AS (
          |  SELECT doc_id, lang, cand_lang, COUNT(*) AS score
          |  FROM db JOIN profiles USING (bg)
          |  GROUP BY 1, 2, 3)
          |SELECT doc_id, lang, cand_lang AS pred_lang, score
          |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          |        ORDER BY score DESC, cand_lang ASC) AS rn FROM scores)
          |WHERE rn = 1
          |ORDER BY doc_id""".stripMargin,
      "q_text_quality" ->
        s"""SELECT doc_id, n_chars,
           |  len(string_split(text, ' ')) AS n_tokens,
           |  floor(((n_chars - (len(string_split(text, ' ')) - 1)) * 1.0 /
           |    len(string_split(text, ' '))) * 1e6) / 1e6 AS mean_tok_len,
           |  floor((len(list_filter(string_split(text, ' '),
           |      t -> t IN ($stopList))) * 1.0 /
           |    len(string_split(text, ' '))) * 1e6) / 1e6 AS stop_ratio,
           |  floor((len(list_distinct(string_split(text, ' '))) * 1.0 /
           |    len(string_split(text, ' '))) * 1e6) / 1e6 AS distinct_ratio,
           |  floor((
           |    0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0 /
           |           len(string_split(text, ' '))) +
           |    0.3 * (1.0 - len(list_filter(string_split(text, ' '),
           |        t -> t IN ($stopList))) * 1.0 /
           |      len(string_split(text, ' '))) +
           |    0.2 * least(len(string_split(text, ' ')) / 100.0, 1.0))
           |    * 1e6) / 1e6 AS quality
           |FROM documents ORDER BY doc_id""".stripMargin,
      "q_text_tokens" ->
        """SELECT doc_id,
          |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
          |  CAST(len(regexp_extract_all(text,
          |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpe,
          |  floor(len(regexp_extract_all(text,
          |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) * 1.0 /
          |    len(string_split(text, ' ')) * 1e6) / 1e6 AS bpe_per_word
          |FROM documents
          |ORDER BY doc_id""".stripMargin,
      "q_text_fingerprint" ->
        """SELECT doc_id,
          |  MIN(h) AS fp_min, MAX(h) AS fp_max,
          |  COUNT(DISTINCT h) AS n_shingles
          |FROM (
          |  SELECT doc_id,
          |    ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h
          |  FROM (SELECT doc_id,
          |          unnest(list_transform(
          |            range(1, len(string_split(text, ' '))),
          |            i -> string_split(text, ' ')[i] || ' ' ||
          |                 string_split(text, ' ')[i + 1])) AS sh
          |        FROM documents))
          |GROUP BY doc_id
          |ORDER BY doc_id""".stripMargin,
      "q_text_vocab" ->
        """WITH c AS (
          |  SELECT token, COUNT(*) AS n
          |  FROM (SELECT unnest(string_split(text, ' ')) AS token
          |        FROM documents)
          |  GROUP BY token HAVING COUNT(*) >= 5),
          |r AS (
          |  SELECT CAST(row_number() OVER (ORDER BY n DESC, token ASC)
          |    AS INT) AS rank, token, n
          |  FROM c)
          |SELECT rank, token, n FROM r
          |WHERE rank <= 100
          |ORDER BY rank""".stripMargin)
  }
}
