package graft

import org.apache.spark.sql.SparkSession

/** One-stop session factory with the engine's recommended
  * configuration — what a library user should start from.
  *
  * The settings encode the 100 TB design defaults:
  *  - AQE on (runtime re-planning: partition coalescing, skew-join
  *    splitting, dynamic join-strategy switches),
  *  - shuffle partitions sized to the cluster, not Spark's legacy 200
  *    (callers pass parallelism; on a real cluster use ~2-3× total
  *    cores, and let AQE coalesce down),
  *  - UTC session time (oracle parity and sanity),
  *  - the Graft extensions injected, so cosine_sim / dot_product /
  *    minhash_sig resolve in pure SQL from the first query.
  */
object GraftSession {

  /** @param master set ONLY for local/embedded use; leave None under
    *   spark-submit, which provides the master itself (an unconditional
    *   .master here would silently override `--master yarn` and run the
    *   "100 TB" job single-node on the driver). */
  def builder(master: Option[String] = None,
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession.Builder = {
    val b = SparkSession.builder()
    master.foreach(b.master)
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions)
  }
}
