package graft.ops

/** DuckDB replay of `fn_ulid_roundtrip` (Round12Ops): the same
  * three-int64-piece Crockford-base32 arithmetic, generated from the same
  * digit helpers so the two engines cannot drift. Kept in its own file
  * only because 26 digit terms are long.
  */
object UlidOracle {
  private val Alpha = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"

  private def dig(src: String, k: Int): String =
    s"substring('$Alpha', CAST(($src // ${math.pow(32, k).toLong}) % 32 AS INT) + 1, 1)"

  private def undig(colName: String, from: Int, n: Int): String =
    (0 until n).map { i =>
      s"(CAST(instr('$Alpha', substring($colName, ${from + i}, 1)) AS BIGINT) - 1) * ${math.pow(32, n - 1 - i).toLong}"
    }.mkString(" + ")

  val sql: String = {
    val timeChars = (9 to 0 by -1).map(k => dig("ts_ms", k)).mkString(" || ")
    val r1Chars = (7 to 0 by -1).map(k => dig("r1", k)).mkString(" || ")
    val r2Chars = (7 to 0 by -1).map(k => dig("r2", k)).mkString(" || ")
    s"""WITH e AS (SELECT event_id, epoch_us(ts) // 1000 AS ts_ms,
       |    ${duckMd5Bits("u1", "event_id", 10)}
       |      % 1099511627776 AS r1,
       |    ${duckMd5Bits("u2", "event_id", 10)}
       |      % 1099511627776 AS r2
       |  FROM events WHERE event_id % 17 = 0),
       |u AS (SELECT event_id, ts_ms, r1, r2,
       |    $timeChars || $r1Chars || $r2Chars AS ulid
       |  FROM e)
       |SELECT event_id, ulid, ts_ms,
       |  ${undig("ulid", 1, 10)} AS ts_ms_decoded,
       |  (${undig("ulid", 1, 10)}) = ts_ms
       |    AND (${undig("ulid", 11, 8)}) = r1 AS roundtrip_ok
       |FROM u ORDER BY ulid, event_id""".stripMargin
  }
}
