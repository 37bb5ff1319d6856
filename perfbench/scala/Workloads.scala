package perfbench

/** The workloads' contents. Each batch query is listed with the graft
  * module family whose operator it registers (used for the per-family
  * layer times). */
object Workloads {

  /** Two kinds of batch plan in one workload. The relational half is
    * scan-, join- and shuffle-heavy over the TPC-H-like tables and the
    * event stream: its work falls on the table loader, Spark's planner
    * and the shuffle. The curation half is document-side: its time goes
    * to graft's native kernels (MinHash, Misra-Gries) and to eager
    * work done while the query is built (TF-IDF). */
  val batch: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "RelationalOps",
    "q21_waiting_supplier" -> "RelationalOps",
    "sessionize" -> "EventOps",
    "payments_pipeline" -> "PaymentOps",
    "tfidf_top" -> "TextOps",
    "heavy_hitters" -> "FrequencyOps",
    "dedup_minhash" -> "DedupOps")

  /** Watch-list queries that each take seconds of eager work while they
    * are built, too long to repeat in every pass within a run's time
    * budget: a traced batch run times one execution of each. */
  val watchList: Seq[String] = Seq("bm25_prf", "bm25_prf_index", "ann_index_incremental")

  /** Tables the batch queries and the watch-list queries read, loaded in
    * set-up. */
  val batchTables: Seq[String] =
    Seq("nation", "supplier", "orders", "lineitem", "events", "documents", "embeddings")

  /** Nominal length of a warm pass of either workload on 4 cores: a run
    * makes `seconds / NominalPassS` warm passes. */
  val NominalPassS = 6.0

  /** Streaming backlog: files drained one per trigger. */
  val StreamFiles = 6
  val PaymentsPerFile = 2000
  val LinesPerFile = 200
  val WordsPerLine = 12
  val Vocabulary = 20000
}
