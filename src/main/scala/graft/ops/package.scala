package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Helpers shared by every operator family. */
package object ops {
  /** THE cross-engine money cast (SURVEY §7.3 rule 2): per-row cast to the
    * expression's exact decimal scale so aggregates are associative and
    * partition-order independent, emitted as DOUBLE only at the boundary.
    * One definition on purpose — if the scale ever changes, every engine
    * pair must move in lockstep or oracles silently diverge. */
  private[ops] def dec(c: Column): Column = c.cast("decimal(18,4)")
}

package ops {
  /** One operator family: its operators by name, and the DuckDB twin of
    * each. `graft.SparkEntry.families` lists every family once. */
  trait Family {
    type Q = (SparkSession, String) => DataFrame
    def queries: Map[String, Q]
    def oracles: Map[String, String]
    protected def unique[V](entries: (String, V)*): Map[String, V] = Family.unique(entries: _*)
  }

  object Family {
    /** `Map(entries: _*)`, except that a name given twice throws instead of
      * keeping the last entry: the exception names every repeated name. */
    def unique[V](entries: (String, V)*): Map[String, V] = {
      val dups = entries.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
      if (dups.nonEmpty)
        throw new IllegalArgumentException(
          s"operator names given twice: ${dups.toSeq.sorted.mkString(", ")}")
      entries.toMap
    }
  }
}
