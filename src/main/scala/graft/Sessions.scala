package graft

import org.apache.spark.sql.SparkSession
import graft.ops.Scratch

/** The engine's session, built in one place for Bench, Verify, Plans and the
  * test fixture: `local[cpus]` with as many shuffle partitions, UTC, no UI,
  * streaming checkpoints and a Hive catalog (embedded Derby) in the per-JVM
  * scratch dir, so DDL survives session and catalog reloads
  * (warehouse_metastore_ops). A production deployment points ConnectionURL
  * at a shared RDBMS instead; everything else is unchanged. */
object Sessions {
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder = {
    System.setProperty("derby.stream.error.file", s"${Scratch.dir}/derby.log")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointLocation", Scratch.ckptDir)
      .enableHiveSupport()
      .config("spark.sql.warehouse.dir", s"${Scratch.dir}/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${Scratch.dir}/metastore_db;create=true")
  }
}
