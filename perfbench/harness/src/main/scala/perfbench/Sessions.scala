package perfbench

import org.apache.spark.sql.SparkSession

/** The program's two session recipes, as its own mains build them:
  * [[serving]] is `graft.serve.ServeMain`'s, [[batch]] is `graft.Verify`'s.
  * The harness processes that host the program in-process (the ingest
  * writer, the traced runs, the contract cells) use these so the engine
  * runs with the same configuration as under the real entry points.
  * `run.py` compares both builder chains with the mains' before every run
  * and refuses to run when they differ (`lib.session_drift`). */
object Sessions {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def serving(): SparkSession = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
    .appName("graft-serve")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.scheduler.mode", "FAIR")
    .config("spark.sql.files.maxPartitionBytes", "16m")
    .config("spark.sql.files.openCostInBytes", "4m")
    .getOrCreate()

  def batch(): SparkSession = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
