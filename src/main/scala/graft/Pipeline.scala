package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline — the library driven the way
  * the reference's CLI drives its enrichment loop (SURVEY §3.1
  * ingest → enrich → derive → write), composed entirely from the operators
  * the oracle gate verifies:
  *
  *   1. ingest  — documents scan (pruned columns);
  *   2. enrich  — token/quality/fingerprint metrics (one narrow pass);
  *   3. gate    — quality thresholds (pushed-down predicates), then the
  *                Gopher repetition gate (aggregation-grade: per-doc
  *                n-gram census, RepetitionQueries);
  *   4. dedup   — exact (content digest) then near-dup (MinHash+LSH
  *                banding, est. Jaccard ≥ 0.5, keep the smaller doc_id);
  *   5. write   — curated parquet partitioned by lang + a per-stage
  *                lineage table (rows in/out per stage — the reference's
  *                summary-stats discipline, analysis.py:1252-1267).
  *
  * Every stage is a DataFrame transform — Catalyst fuses the enrich+gate
  * projections into the scan, and the dedup joins shuffle on digest /
  * (band, bucket) only. Usage: Pipeline <sfDir> <outDir>
  */
object Pipeline {

  case class StageCount(stage: String, n_rows: Long, note: String)

  def curate(spark: SparkSession, sfDir: String): (DataFrame, Seq[StageCount]) = {
    import org.apache.spark.sql.Observation
    val stages = Seq.newBuilder[StageCount]

    // 1. ingest — lineage via observe(): the ingest and enrich counts ride
    // the FIRST action over the gated frame (the cache build) instead of
    // each paying their own full scan+enrich pass (at 100 TB those were two
    // avoidable reads of the corpus).
    val obsIngest = Observation("ingest")
    val obsEnrich = Observation("enrich")
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .filter(col("text").isNotNull)
      .observe(obsIngest, count(lit(1)).as("n_rows"))

    // 2. enrich: token counts, quality ratios, content fingerprint
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin(TextQueries.Stopwords.map(lit(_)): _*)))
    val enriched = docs
      .withColumn("n_tokens", nTok)
      .withColumn("stopword_ratio", nStop.cast("double") / nTok.cast("double"))
      .withColumn("punct_ratio",
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .cast("double") / length(col("text")).cast("double"))
      .withColumn("content_md5", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
      .observe(obsEnrich, count(lit(1)).as("n_rows"))

    // 3. quality gate, then the model-based classifier gate (hashed-ngram
    // linear scorer, QualityClassifier — both pure row predicates, fused
    // into the scan). Cached: every later stage (and the final write)
    // would otherwise re-run the scan+enrich chain per action. The
    // quality-gate count rides an observe() on the pre-classifier frame,
    // so BOTH gates report lineage from the cache-building count — still
    // one scan, still exactly 4 count actions per curate (spec-pinned).
    val obsQuality = Observation("quality_gate")
    val gated = enriched.filter(
      col("n_tokens") >= 5 && col("punct_ratio") <= 0.2 && col("stopword_ratio") <= 0.8)
      .observe(obsQuality, count(lit(1)).as("n_rows"))
      .filter(QualityClassifier.keep(col("text")))
      .cache()
    // the ONE scan before the gates: builds the cache and fires all three
    // upstream observations
    stages += StageCount("classifier_gate", gated.count(),
      s"hashed-ngram linear scorer, mean weight > ${QualityClassifier.KeepMeanMin}")
    stages += StageCount("quality_gate",
      obsQuality.get("n_rows").asInstanceOf[Long],
      "n_tokens>=5, punct<=0.2, stopword<=0.8")
    stages += StageCount("ingest",
      obsIngest.get("n_rows").asInstanceOf[Long], "documents with text")
    stages += StageCount("enrich",
      obsEnrich.get("n_rows").asInstanceOf[Long], "token/quality/fingerprint columns")

    // 3b. repetition gate (Gopher rules): the aggregation-grade quality
    // check — repetitionMetrics needs a gram census per doc, so unlike the
    // row-predicate gate above it costs one extra pass over the (cached)
    // gated frame plus its keyed shuffles; the anti-join is on doc_id
    // against an aggregate output, so AQE broadcasts it when small.
    val repetitive = RepetitionQueries
      .repetitionMetrics(spark, gated)
      .filter(col("repetitive")).select("doc_id")
    val repGated = gated.join(repetitive, Seq("doc_id"), "left_anti").cache()
    stages += StageCount("repetition_gate", repGated.count(),
      s"gopher: top2<=${RepetitionQueries.Top2Max}, top3<=${RepetitionQueries.Top3Max}, " +
        s"dup3<=${RepetitionQueries.Dup3Max}")
    // gated's consumers (the repetition metrics + the anti-join) are
    // materialized into repGated now
    gated.unpersist()

    // 4a. exact dedup: keep min doc_id per content digest (reads the cache)
    val keepExact = repGated.groupBy("content_md5").agg(min("doc_id").as("doc_id"))
    val exactDeduped = repGated.join(keepExact, Seq("content_md5", "doc_id")).cache()
    stages += StageCount("dedup_exact", exactDeduped.count(), "keep min doc_id per md5")

    // 4b. near-dup: MinHash+LSH candidates over the SURVIVING frame (not
    // the raw corpus — pairing against already-removed docs would delete a
    // survivor because it near-duplicates a doc the gate or exact dedup
    // dropped), est. Jaccard >= 0.5, then TRANSITIVE keep-one-per-component
    // (see nearDupDrops — the round-3 greedy drop-b_id rule is replaced by
    // connected components, pinning the chain semantics explicitly)
    val nearPairs = DedupQueries.minhashLshPairs(exactDeduped)
      .filter(col("est_jaccard") >= 0.5)
    val curated = exactDeduped
      .join(nearDupDrops(nearPairs), Seq("doc_id"), "left_anti").cache()
    stages += StageCount("dedup_near", curated.count(),
      "minhash-lsh est_jaccard>=0.5, keep min per component")
    // the count above materialized `curated`, so the two upstream caches
    // are no longer needed — release them here (repeated curate() calls in
    // a long session must not accumulate cached blocks; `curated` stays
    // cached because the CALLER owns its lifecycle: lineage count done,
    // write still pending)
    repGated.unpersist(); exactDeduped.unpersist()

    // deterministic presentation order (observe() reordered the appends)
    val order = Seq("ingest", "enrich", "quality_gate", "classifier_gate",
      "repetition_gate", "dedup_exact", "dedup_near")
    (curated, stages.result().sortBy(s => order.indexOf(s.stage)))
  }

  /** Docs to DROP under transitive near-dup semantics: connected
    * components over the pair graph, keep exactly the min doc_id per
    * component (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022 — cluster near-dups, keep one per cluster).
    * CONTRACT, pinned by PipelineSpec's planted A~B~C chain: in a chain
    * the middle AND far docs are both dropped even though the far doc's
    * only near-dup is itself removed — a component is treated as one
    * content cluster, not a pairwise constraint set. This over-deletes
    * relative to a maximal-independent-set rule and is the standard
    * training-data trade (deleting a borderline member is cheap; keeping
    * two near-dups is not). The round-3 greedy drop-every-b_id rule kept
    * every component min PLUS any non-min doc that never appeared on a
    * pair's right side — an accident of id ordering, now gone.
    */
  def nearDupDrops(pairs: DataFrame): DataFrame =
    // star contraction: O(log n) rounds on ANY pair graph — diameter-proof,
    // so pathological boilerplate chains can't blow the round count the way
    // they could under min-id flooding. strict=false still degrades to
    // split components (keeps a few extra docs) rather than crashing a
    // curation run that already paid the corpus scan. Labels are identical
    // to connectedComponents (both rungs share the q_dedup_cc oracle).
    DedupQueries.connectedComponentsStar(pairs, strict = false)
      .filter(col("doc_id") =!= col("comp_id"))
      .select("doc_id")

  /** Driver-gate surface: the WHOLE curation pipeline oracle-verified —
    * DuckDB replays ingest → enrich → gate → exact dedup → MinHash-LSH
    * near-dup → connected components → keep-min survivors and must
    * hash-match both the surviving doc set and every stage count.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_curated" -> ((s, dir) =>
      curate(s, dir)._1.select("doc_id").orderBy("doc_id")),
    "q_pipeline_lineage" -> ((s, dir) => {
      val (_, stages) = curate(s, dir)
      import s.implicits._
      stages.map(st => (st.stage, st.n_rows)).toDF("stage", "n_rows")
        .orderBy("stage")
    })
  )

  /** CTE chain replaying the full pipeline up to the `curated` doc set.
    * Every predicate mirrors [[curate]] exactly: integer-ratio gate
    * thresholds (exact double divisions in both engines), min-id-per-md5
    * exact dedup, the shared MinHash-LSH fragment over the SURVIVOR set,
    * est_jaccard ≥ 0.5 edges (exact multiples of 1/16), recursive-CTE
    * transitive closure as the connected-components twin.
    */
  private def pipelineCte: String = {
    val stop = graft.TextQueries.Stopwords.map("'" + _ + "'").mkString(", ")
    s"""docs0 AS (
         SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       enr AS (
         SELECT doc_id, text,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(len(list_filter(string_split(text, ' '),
                  t -> list_contains([$stop], t))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE) AS punct_ratio
         FROM docs0),
       qgated AS (
         SELECT doc_id, text FROM enr
         WHERE n_tokens >= 5 AND punct_ratio <= 0.2 AND stop_ratio <= 0.8),
       ${QualityClassifier.scoreCteSql("qgated")},
       gated AS (
         SELECT q.doc_id, q.text FROM qgated q
         JOIN clf ON clf.doc_id = q.doc_id
         WHERE clf.raw > ${QualityClassifier.KeepMeanMin} * clf.n_grams),
       ${RepetitionQueries.repetitionCteSql("gated")},
       repgated AS (
         SELECT g.doc_id, g.text FROM gated g
         JOIN rep ON g.doc_id = rep.rep_id
         WHERE NOT rep.repetitive),
       exact AS (
         SELECT doc_id, text FROM (
           SELECT doc_id, text, row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
           FROM repgated) WHERE rn = 1),
       ${DedupQueries.minhashLshCte("exact")},
       edges0 AS (SELECT a_id, b_id FROM lshpairs WHERE est_jaccard >= 0.5),
       edges AS (
         SELECT a_id AS src, b_id AS dst FROM edges0
         UNION SELECT b_id, a_id FROM edges0),
       reach(src, dst) AS (
         SELECT src, dst FROM edges
         UNION
         SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
       comp AS (
         SELECT src AS doc_id, least(src, min(dst)) AS comp_id
         FROM reach GROUP BY src),
       drops AS (SELECT doc_id FROM comp WHERE doc_id <> comp_id),
       curated AS (
         SELECT e.doc_id FROM exact e
         WHERE e.doc_id NOT IN (SELECT doc_id FROM drops))"""
  }

  def oracleSql: Map[String, String] = Map(
    "q_pipeline_curated" ->
      s"""WITH RECURSIVE $pipelineCte
         SELECT doc_id FROM curated""",
    "q_pipeline_lineage" ->
      s"""WITH RECURSIVE $pipelineCte
         SELECT 'ingest' AS stage, (SELECT count(*) FROM docs0) AS n_rows
         UNION ALL SELECT 'enrich', (SELECT count(*) FROM docs0)
         UNION ALL SELECT 'quality_gate', (SELECT count(*) FROM qgated)
         UNION ALL SELECT 'classifier_gate', (SELECT count(*) FROM gated)
         UNION ALL SELECT 'repetition_gate', (SELECT count(*) FROM repgated)
         UNION ALL SELECT 'dedup_exact', (SELECT count(*) FROM exact)
         UNION ALL SELECT 'dedup_near', (SELECT count(*) FROM curated)"""
  )

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "target/pipeline-out"
    val spark = Sessions.oracle()
    import spark.implicits._
    val (curated, stages) = curate(spark, sfDir)
    curated.write.mode(SaveMode.Overwrite).partitionBy("lang")
      .parquet(s"$outDir/curated")
    spark.createDataset(stages).toDF()
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/lineage")
    stages.foreach(s => println(f"PIPELINE ${s.stage}%-14s ${s.n_rows}%8d  ${s.note}"))
    spark.stop()
  }
}
