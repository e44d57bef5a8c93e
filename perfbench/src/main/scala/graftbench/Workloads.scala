package graftbench

/** Which registered queries each workload runs.
  *
  * Membership is by name prefix: `llm_`/`graph_` → llm_curate, `table_`/
  * `sink_` → table_ingest. The relational, window, scalar, quality,
  * streaming, scan and asana queries (the etl_sql workload of the design)
  * are in no workload of this benchmark; see README.md.
  *
  * A benchmark run reads and writes only inside its working directory.
  * The members in [[excluded]] write to a fixed absolute location outside
  * it, so no run executes them. The rest are [[runnable]]. A run times the
  * workload's [[core]] set; record mode runs every runnable member. */
object Workloads {
  val names: Seq[String] = Seq("llm_curate", "table_ingest")

  def workloadOf(query: String): Option[String] =
    if (query.startsWith("llm_") || query.startsWith("graph_"))
      Some("llm_curate")
    else if (query.startsWith("table_") || query.startsWith("sink_"))
      Some("table_ingest")
    else None

  private val oracleDumps = Seq("llm_ann_eval", "llm_ann_incr",
    "llm_ann_ivf_indexed", "llm_ann_ivf_trained", "llm_ann_ivfpq",
    "llm_ann_ivfpq_indexed", "llm_ann_pq", "llm_bpe", "llm_dedup_incr",
    "llm_dedup_semantic", "llm_minhash", "llm_minhash_agg", "llm_simhash",
    "llm_simjoin_lsh", "llm_simjoin_lsh_bucketed", "llm_unigram")

  /** Member → why no run executes it:
    *  - every table_/sink_ query (56) creates its table or sink under
    *    `Sources.sinkDir`, /tmp/graft_sink/<application id>;
    *  - the llm queries in `oracleDumps` (16) write the tables the DuckDB
    *    oracle replays under `OracleAux.dirFor`, /tmp/graft_oracle_aux. */
  val excluded: Map[String, String] =
    graft.SparkEntry.queries.keys.collect {
      case q if workloadOf(q).contains("table_ingest") =>
        q -> "writes under /tmp/graft_sink (Sources.sinkDir)"
    }.toMap ++ oracleDumps.map(q =>
      q -> "writes under /tmp/graft_oracle_aux (OracleAux.dirFor)")

  def members(workload: String): Seq[String] =
    graft.SparkEntry.queries.keys.filter(workloadOf(_).contains(workload))
      .toSeq.sorted

  def runnable(workload: String): Seq[String] =
    members(workload).filterNot(excluded.contains)

  /** The timed set of a run: every 9th runnable llm_curate member in name
    * order, from the 2nd. That puts the connected-components and
    * shortest-path loops and a broadcast similarity join in the set, at a
    * set-up cost a run can afford. The ingest loop of table_ingest is in
    * [[IngestWorkload]]. */
  val core: Map[String, Seq[String]] = Map(
    "llm_curate" -> Seq("graph_cc", "graph_sssp", "llm_chunk_cdc",
      "llm_dedup_substr", "llm_hard_negatives", "llm_mm_features",
      "llm_pii_scrub", "llm_simjoin_auto"))
}
