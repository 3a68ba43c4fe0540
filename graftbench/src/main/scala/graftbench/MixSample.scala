package graftbench

/** The pinned `analytics_mix` sample of `SparkEntry.queries`: a light
  * tier (under 0.5 s each once warm) spanning the
  * families, and a heavy tier of the slowest graph, dedup and stream
  * shapes. Every query here matches its DuckDB oracle well inside the
  * oracle cap.
  */
object MixSample {
  val light: Seq[String] = Seq(
    "q1_agg", "text_tokens", "sim_topk_brute", "pipe_dataset_hash", "mm_dhash")
  val heavy: Seq[String] = Seq(
    "graph_bfs_ball", "dedup_jaccard_prefix", "stream_session_native")

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case f @ ("dedup" | "sim" | "graph" | "stream" | "text" | "pipe" | "mm") => f
    case _ => "relational"
  }
}
