package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

/** Optimization tooling: for a comma-separated list of ops, run each
  * result through a `noop` write and dump the write's executed plan in
  * `.explain("formatted")` form into a directory — the plan evidence the
  * optimization log cites (`plans/r18/<op>_before.txt` / `_after.txt`).
  * The plan is the final adaptive plan, so runtime rewrites (coalesced
  * shuffles, AQE optimizer rules) show in it.
  *
  *   runMain graft.Plans <outDir> <suffix> <op1,op2,...> [sfDir]
  *
  * Not part of the driver contract; never invoked by Bench/Verify.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.Plans <outDir> <suffix> <op1,op2,...> [sfDir]")
      sys.exit(2)
    }
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = executedWrite(spark, df).explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** The query execution of a `noop` write of `df`, after it ran. */
  private def executedWrite(spark: SparkSession, df: DataFrame): QueryExecution = {
    val done = Promise[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.exists(_.isInstanceOf[V2TableWriteExec])) done.trySuccess(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        done.tryFailure(e)
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      Await.result(done.future, 2.minutes)
    } finally spark.listenerManager.unregister(listener)
  }
}
