package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, floor}

/** Helpers shared by every operator family. */
package object ops {
  /** THE cross-engine money cast (SURVEY §7.3 rule 2): per-row cast to the
    * expression's exact decimal scale so aggregates are associative and
    * partition-order independent, emitted as DOUBLE only at the boundary.
    * One definition on purpose — if the scale ever changes, every engine
    * pair must move in lockstep or oracles silently diverge. */
  private[ops] def dec(c: Column): Column = c.cast("decimal(18,4)")

  /** THE hash draw, beside the money cast for the same reason: the first
    * `hex` hex digits of md5(`key`), from digit `from` (1-based), read as
    * a BIGINT. Every operator and its DuckDB twin draw their "random"
    * numbers this way and must agree bit for bit, so each dialect renders
    * the law here and nowhere else. `key` is SQL text (a column
    * expression); the result is SQL text to splice into `expr` or a query.
    * At most 15 digits, so the draw fits a signed BIGINT. */
  private[graft] def md5Bits(key: String, hex: Int, from: Int = 1): String = {
    checkDraw(hex, from)
    s"CAST(conv(substring(md5($key), $from, $hex), 16, 10) AS BIGINT)"
  }

  /** `md5Bits` in DuckDB SQL, for the oracle twin of the same draw. */
  private[graft] def duckMd5Bits(key: String, hex: Int, from: Int = 1): String = {
    checkDraw(hex, from)
    s"('0x' || substring(md5($key), $from, $hex))::BIGINT"
  }

  /** `md5Bits` of the namespaced key `'ns:' || id`, `id` a SQL expression. */
  private[graft] def md5Bits(ns: String, id: String, hex: Int): String =
    md5Bits(s"concat('$ns:', CAST($id AS STRING))", hex)

  /** `duckMd5Bits` of the namespaced key `'ns:' || id`. */
  private[graft] def duckMd5Bits(ns: String, id: String, hex: Int): String =
    duckMd5Bits(s"'$ns:' || CAST($id AS VARCHAR)", hex)

  /** THE price tick, read by every daily-bar indicator: per event its
    * (event_type, event_id, ts_us), the UTC day, and the price floored to
    * whole cents so bars compare exact integers. */
  private[graft] def priceTicks(events: DataFrame): DataFrame =
    events.select(col("event_type"), col("event_id"), col("ts_us"),
      expr("ts_us DIV 86400000000").as("day"),
      floor(col("value") * 100).cast("bigint").as("cents"))

  /** Daily close bars of `priceTicks`: per (event_type, day), the cents of
    * the last tick by (ts_us, event_id), so equal timestamps break by id. */
  private[graft] def closeBars(ticks: DataFrame): DataFrame =
    ticks.groupBy("event_type", "day")
      .agg(expr("max_by(cents, struct(ts_us, event_id))").as("c"))

  /** `priceTicks` in DuckDB SQL: the CTE `e`. */
  private[graft] val TicksCte: String =
    """e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
      |    epoch_us(ts) // 86400000000 AS day,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events)""".stripMargin

  /** `closeBars` in DuckDB SQL: the CTE `bar`, over `TicksCte`'s `e`. */
  private[graft] val CloseBarsCte: String =
    """bar AS (SELECT event_type, day,
      |    MAX_BY(cents, CAST(ts_us AS HUGEINT) * 1000000 + event_id) AS c
      |  FROM e GROUP BY 1, 2)""".stripMargin

  /** Runs `body` with the session confs `kv` set, then puts back the exact
    * state from before the call: a key absent from `s.conf.getAll` is
    * unset again (not set to its default), any other key gets its old
    * value. A conf that is read when a query runs must be consumed inside
    * `body` (e.g. a `localCheckpoint()`), not by a later action. */
  private[graft] def withConfs[T](s: SparkSession)(kv: (String, String)*)(body: => T): T = {
    val before = s.conf.getAll
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => s.conf.set(k, v)
        case None => s.conf.unset(k)
      }
    }
  }

  private def checkDraw(hex: Int, from: Int): Unit = {
    require(hex >= 1 && hex <= 15, s"an md5 draw takes 1 to 15 hex digits to fit a BIGINT, not $hex")
    require(from >= 1 && from + hex - 1 <= 32,
      s"an md5 draw of $hex digits from digit $from runs past the 32-digit hash")
  }
}

package ops {
  /** One operator: its name, how it builds its DataFrame from a session and
    * an sf dir, and the DuckDB SQL over the same parquet tables that must
    * return the same rows. */
  final case class Op(name: String, build: Op.Build, oracle: String) {
    require(name.trim.nonEmpty, "an operator needs a name")
    require(oracle != null && oracle.trim.nonEmpty, s"operator $name needs an oracle")
  }

  object Op {
    type Build = (SparkSession, String) => DataFrame
  }

  /** One operator family. `graft.SparkEntry.families` lists every family once. */
  trait Family {
    def ops: Seq[Op]
  }

  object Family {
    /** The ops by name, except that a name given twice throws instead of
      * keeping the last op: the exception names every repeated name. */
    def unique(ops: Seq[Op]): Map[String, Op] = {
      val dups = ops.groupBy(_.name).collect { case (k, vs) if vs.size > 1 => k }
      if (dups.nonEmpty)
        throw new IllegalArgumentException(
          s"operator names given twice: ${dups.toSeq.sorted.mkString(", ")}")
      ops.map(o => o.name -> o).toMap
    }
  }
}
