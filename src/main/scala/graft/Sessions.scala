package graft

import org.apache.spark.sql.SparkSession

/** The one way this project builds a SparkSession: the bench gates, the
  * bench legs, [[Verify]] and the test suites all call [[local]], so they
  * run the engine under the same configuration by construction.
  *
  * What is fixed, and why:
  *  - UTC session time zone and no UI (deterministic timestamps, no
  *    port binding when several sessions share a machine);
  *  - AQE on with skew-join splitting, the engine's hot-key backstop
  *    beside the Linker's own salting;
  *  - AQE partition coalescing OFF: it otherwise coalesces the pipeline's
  *    mid-size shuffles down to 1-2 post-shuffle partitions and
  *    serializes whole stages;
  *  - 8 MB file splits: the bench corpora are a few hundred MB, and
  *    default 128 MB splits would scan them with 1-3 tasks regardless of
  *    cores;
  *  - 16 shuffle partitions (4x the bench's high leg) at EVERY core
  *    count. A cluster job's shuffle.partitions is a job property, not a
  *    cluster-size property (Spark's own default is a static 200);
  *    per-leg counts would make the bench's two legs run different task
  *    layouts: the N-core leg must execute the SAME job with less
  *    parallelism, not a cheaper job. */
object Sessions {

  /** The `spark.*` settings [[local]] applies, in application order. */
  private[graft] def settings(cores: Int): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "8m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")

  /** A local[`cores`] session with the fixed settings above, logging at
    * WARN. `localDir` places shuffle and spill files (the bench puts them
    * on RAM-backed scratch, see [[BenchLeg.scratchRoot]]). */
  def local(cores: Int, localDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().appName(s"graft-local-$cores")
    settings(cores).foreach { case (k, v) => b.config(k, v) }
    localDir.foreach(d => b.config("spark.local.dir", d))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
