package graft.ops

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
import org.apache.spark.sql.types._
import graft.Tables

/** SQL serving layer — the long-running endpoint surface of a Hive-style
  * person service (SURVEY §2: `service_sql_endpoint`). Everything else in
  * the engine is a library call inside one JVM; a service twin exposes the
  * SAME catalog over HiveServer2's Thrift/JDBC protocol so external
  * clients (BI tools, beeline, other JVMs) can query it concurrently.
  *
  * The graded op proves the full serving contract end to end, in-process:
  *   1. a metastore table is published from the source scan,
  *   2. an embedded HiveThriftServer2 is started over the SparkSession
  *      (the `-Phive-thriftserver` build path, public Spark API),
  *   3. a real hive-jdbc client connects over a TCP socket and runs the
  *      graded rollup THROUGH the wire protocol,
  *   4. two concurrent JDBC connections each define a same-named TEMP
  *      view with different payloads and read their own back — the
  *      session-isolation property a multi-tenant endpoint must hold
  *      (temp state per connection; catalog tables shared).
  * The oracle is the same rollup over the source parquet: the wire layer
  * must be semantically invisible.
  *
  * Scale posture: the endpoint serves PLANS, not data — each JDBC query
  * plans and executes on the cluster exactly as a library call would
  * (same Catalyst, same shuffles); only the final result rows cross the
  * Thrift socket. The rollup result here is O(statuses); a service would
  * page anything larger with incremental collect.
  */
object Service extends Family {

  /** One embedded Thrift server per JVM, started lazily on the first
    * serving op; -1 = not yet started. */
  @volatile private var boundPort: Int = -1
  /** The server's port: pid-salted, so sibling JVMs (test + Verify) that
    * serve at the same time do not collide. */
  private[graft] val thriftPort: Int = 10416 + (ProcessHandle.current().pid() % 483).toInt
  // held as the public Java supertype: the Scala HiveThriftServer2 CLASS
  // is private[hive]; HiveServer2.stop() is the public lifecycle surface
  @volatile private var thriftServer: org.apache.hive.service.server.HiveServer2 = _

  private def listening(p: Int): Boolean =
    try {
      val sock = new java.net.Socket()
      try { sock.connect(new java.net.InetSocketAddress("localhost", p), 300); true }
      finally sock.close()
    } catch { case _: java.io.IOException => false }

  // JVM-unique identity token: a sibling JVM (test + Verify run
  // concurrently) may have its own Thrift server on the same ports, and
  // attaching to THAT one grades a foreign catalog. Every port candidate
  // must echo this token back before it is accepted. The token rides in a
  // GLOBAL temp view: the Thrift server opens each JDBC connection as a
  // fresh `newSession()` (runtime conf set after startup is NOT
  // inherited), but global temp views live in the shared state every
  // session of THIS SparkContext sees — and no foreign JVM does.
  private val svcToken = java.util.UUID.randomUUID().toString.replace("-", "")

  /** True iff the server at `p` is THIS JVM's (echoes our token view). */
  private def identityOk(p: Int): Boolean =
    try {
      val c = connect(p)
      try {
        val rs = c.createStatement().executeQuery(
          s"SELECT t FROM global_temp.svc_ident_$svcToken")
        rs.next() && svcToken == rs.getString(1)
      } finally c.close()
    } catch { case scala.util.control.NonFatal(_) => false }

  private[graft] def ensureServer(s: SparkSession): Int = synchronized {
    if (boundPort > 0) return boundPort
    s.sql(s"CREATE OR REPLACE GLOBAL TEMPORARY VIEW svc_ident_$svcToken " +
      s"AS SELECT '$svcToken' AS t")
    s.conf.set("hive.server2.thrift.port", thriftPort.toString)
    s.conf.set("hive.server2.thrift.bind.host", "localhost")
    // the HiveServer2 web UI binds a FIXED default port (10002) that a
    // sibling JVM's server (test suite + Verify run concurrently) races
    // for — "Failed to Start HiveServer2" with the thrift port still
    // free. 0 disables the UI; one retry covers any remaining
    // transient bind race.
    s.conf.set("hive.server2.webui.port", "0")
    // The server takes its HiveConf from a new execution Hive client, and
    // that client reuses the Hive SessionState attached to the calling
    // thread if there is one. Any metastore call on a thread attaches the
    // metastore client's state, whose conf was built before the settings
    // above: port 10000 on all interfaces. A fresh thread has no state
    // attached, so the client builds its conf from this session's and
    // the server binds thriftPort on localhost.
    def start(): Unit = {
      var failure: Option[Throwable] = None
      val t = new Thread(() =>
        try thriftServer = HiveThriftServer2.startWithContext(s.sqlContext)
        catch { case e: Throwable => failure = Some(e) })
      t.start(); t.join()
      failure.foreach(e => throw e)
    }
    try start()
    catch {
      case scala.util.control.NonFatal(_) =>
        Thread.sleep(1000)
        start()
    }
    // the binary transport binds asynchronously: poll the socket
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (boundPort < 0 && System.nanoTime() < deadline) {
      if (listening(thriftPort) && identityOk(thriftPort)) boundPort = thriftPort
      else Thread.sleep(200)
    }
    require(boundPort > 0, s"thrift endpoint failed to bind $thriftPort with our token")
    boundPort
  }

  /** Stop the embedded Thrift server (the Connect-endpoint lesson:
    * non-daemon server threads must not outlive the op that graded them,
    * and the driver tail must not fill with client retry storms against
    * a dead port). Returns true iff the port actually closed. Re-entry
    * through ensureServer restarts a fresh server. */
  private def stopThriftServer(): Boolean = synchronized {
    if (boundPort < 0) return true
    val p = boundPort
    if (thriftServer != null) { thriftServer.stop(); thriftServer = null }
    boundPort = -1
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (listening(p) && System.nanoTime() < deadline) Thread.sleep(100)
    !listening(p)
  }

  private def connect(port: Int): Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    DriverManager.getConnection(s"jdbc:hive2://localhost:$port/default", "root", "")
  }

  /** Two concurrent connections, same temp-view NAME, different payloads:
    * each must read its own definition back. Returns the isolation
    * verdict; any cross-talk (or a missing view) fails loudly. */
  private def isolationProbe(port: Int): Boolean = {
    val c1 = connect(port); val c2 = connect(port)
    try {
      c1.createStatement().execute(
        "CREATE OR REPLACE TEMPORARY VIEW svc_probe AS SELECT 1 AS x")
      c2.createStatement().execute(
        "CREATE OR REPLACE TEMPORARY VIEW svc_probe AS SELECT 2 AS x")
      def readBack(c: Connection): Int = {
        val rs = c.createStatement().executeQuery("SELECT x FROM svc_probe")
        require(rs.next(), "probe view returned no row"); rs.getInt(1)
      }
      readBack(c1) == 1 && readBack(c2) == 2
    } finally { c1.close(); c2.close() }
  }

  // ---- Spark Connect endpoint (`service_connect_endpoint`) ----
  // The modern Spark-native serving path beside the Hive-wire one above:
  // the SAME SparkContext exposed over the public Connect gRPC protocol
  // (spark-connect ships in the 4.x distribution with its shaded gRPC),
  // driven by the in-distribution low-level SparkConnectClient and
  // decoded from the wire's Arrow IPC batches with arrow-java. Sessions
  // are (user_id, session_id)-scoped server-side, so the isolation
  // grading pattern of the Thrift op carries over verbatim.

  @volatile private var connectPort: Int = -1

  private type CxClient = org.apache.spark.sql.graftbridge.ConnectBridge.Handle

  private def connectClient(port: Int, user: String): CxClient =
    org.apache.spark.sql.graftbridge.ConnectBridge.client("localhost", port, user)

  private def cxShutdown(c: CxClient): Unit =
    org.apache.spark.sql.graftbridge.ConnectBridge.shutdown(c)

  /** One SQL statement through the gRPC wire; every Arrow batch in the
    * response stream is a self-contained IPC stream — decode with the
    * arrow-java reader, surface rows as vector `getObject` values. */
  private def sqlViaConnect(client: CxClient, query: String): Seq[Seq[AnyRef]] = {
    val batches = org.apache.spark.sql.graftbridge.ConnectBridge.sql(client, query)
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[AnyRef]]
    batches.foreach { bytes =>
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        while (rdr.loadNextBatch()) {
          val root = rdr.getVectorSchemaRoot
          val vs = root.getFieldVectors
          for (i <- 0 until root.getRowCount)
            out += (0 until vs.size()).map(c => vs.get(c).getObject(i))
        }
      } finally { rdr.close(); alloc.close() }
    }
    out.toSeq
  }

  /** Same identity gate as the Thrift probe: the candidate port must
    * echo THIS JVM's global-temp-view token over the Connect wire. */
  private def connectIdentityOk(p: Int): Boolean =
    try {
      val c = connectClient(p, "ident_probe")
      try sqlViaConnect(c, s"SELECT t FROM global_temp.svc_ident_$svcToken")
        .exists(_.exists(v => svcToken == String.valueOf(v)))
      finally cxShutdown(c)
    } catch { case scala.util.control.NonFatal(_) => false }

  private def ensureConnectServer(s: SparkSession): Int = synchronized {
    if (connectPort > 0) return connectPort
    val want = 15102 + (ProcessHandle.current().pid() % 483).toInt
    s.sql(s"CREATE OR REPLACE GLOBAL TEMPORARY VIEW svc_ident_$svcToken " +
      s"AS SELECT '$svcToken' AS t")
    org.apache.spark.sql.graftbridge.ConnectBridge.startServer(s.sparkContext, want)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (connectPort < 0 && System.nanoTime() < deadline) {
      if (listening(want) && connectIdentityOk(want)) connectPort = want
      else Thread.sleep(200)
    }
    require(connectPort > 0,
      s"connect endpoint failed to bind $want with our token")
    connectPort
  }

  /** Two Connect sessions, same temp-view NAME, different payloads — the
    * server must keep per-(user, session) temp catalogs apart. Two
    * phases (round-12 verdict brief item 7): the sequential
    * define/read-back pair, then a CONCURRENT storm — both clients on
    * their own threads, each interleaving 6 redefine+read round trips
    * against the shared server; every response must carry the session's
    * own payload (no cross-talk under genuine parallelism, no retry
    * storms). */
  private def connectIsolationProbe(port: Int): Boolean = {
    val c1 = connectClient(port, "alice"); val c2 = connectClient(port, "bob")
    try {
      def readBack(c: CxClient): Long = {
        val rows = sqlViaConnect(c, "SELECT CAST(x AS BIGINT) AS x FROM cx_probe")
        require(rows.nonEmpty, "probe view returned no row")
        rows.head.head.asInstanceOf[java.lang.Long].longValue()
      }
      sqlViaConnect(c1, "CREATE OR REPLACE TEMPORARY VIEW cx_probe AS SELECT 1 AS x")
      sqlViaConnect(c2, "CREATE OR REPLACE TEMPORARY VIEW cx_probe AS SELECT 2 AS x")
      val seqOk = readBack(c1) == 1L && readBack(c2) == 2L
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        def storm(c: CxClient, want: Long): java.util.concurrent.Callable[Boolean] =
          () => (1 to 6).forall { i =>
            sqlViaConnect(c,
              s"CREATE OR REPLACE TEMPORARY VIEW cx_probe AS SELECT $want AS x, $i AS gen")
            readBack(c) == want
          }
        val f1 = pool.submit(storm(c1, 1L)); val f2 = pool.submit(storm(c2, 2L))
        seqOk &&
          f1.get(120, java.util.concurrent.TimeUnit.SECONDS) &&
          f2.get(120, java.util.concurrent.TimeUnit.SECONDS)
      } finally pool.shutdownNow()
    } finally { cxShutdown(c1); cxShutdown(c2) }
  }

  val ops: Seq[Op] = Seq(
    // The canonical Hive wire, graded as a full endpoint LIFECYCLE (the
    // round-12 verdict's brief item 4) — everything a BI tool or beeline
    // session exercises that `service_sql_endpoint`'s single rollup does
    // not: (1) catalog DISCOVERY through DatabaseMetaData.getTables (the
    // first call every JDBC client makes), (2) a parameterized
    // PreparedStatement executed once per bound status value (plans are
    // compiled server-side per execution; params cross the wire, not
    // inlined SQL), (3) incremental fetch: the detail scan pulls through
    // setFetchSize(100) so result paging — not one giant RPC — moves the
    // rows, exactly how a service keeps memory bounded when a client asks
    // for more than a screenful, and (4) CLEAN SHUTDOWN inside the op
    // scope (the Connect-endpoint lesson): the server is stopped, the
    // port verified closed, and the verdict graded. Money in exact cents
    // (BIGINT) end to end; oracle = the same rollup over the source
    // parquet plus TRUE attest columns — the wire must be invisible.
    Op("service_thrift_endpoint", (s, d) => {
      val port = ensureServer(s)
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .option("path", Scratch.opDir("svc_orders_tl", d))
        .format("parquet").saveAsTable("graft_svc_orders_tl")
      val conn = connect(port)
      val rows =
        try {
          // 1) discovery: the published table must surface through the
          //    standard JDBC metadata call, over the wire
          val md = conn.getMetaData.getTables(null, "default",
            "graft_svc_orders_tl", null)
          val discovered = md.next()
          require(discovered, "published table not discoverable via getTables")
          // statuses via the wire (multi-statement session), then one
          // PreparedStatement bound per status
          val stRs = conn.createStatement().executeQuery(
            "SELECT DISTINCT o_orderstatus FROM graft_svc_orders_tl ORDER BY 1")
          val statuses = Iterator.continually(stRs)
            .takeWhile(_.next()).map(_.getString(1)).toList
          val ps = conn.prepareStatement(
            """SELECT COUNT(*) AS n_orders,
              |  SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)) AS cents
              |FROM graft_svc_orders_tl WHERE o_orderstatus = ?""".stripMargin)
          // 3) paged detail: first 500 orderkeys of the FIRST status in
          //    100-row fetch batches; the client-side count must equal
          //    the LIMIT'd cardinality (paging is lossless)
          val pst = conn.createStatement()
          pst.setFetchSize(100)
          val page = pst.executeQuery(
            s"""SELECT o_orderkey FROM graft_svc_orders_tl
               |WHERE o_orderstatus = '${statuses.head}'
               |ORDER BY o_orderkey LIMIT 500""".stripMargin)
          var nPaged = 0L
          while (page.next()) nPaged += 1
          statuses.map { st =>
            ps.setString(1, st)
            val rs = ps.executeQuery()
            require(rs.next(), s"prepared rollup returned no row for $st")
            (st, rs.getLong(1), rs.getLong(2), nPaged)
          }
        } finally conn.close()
      // 4) clean shutdown: port must actually close before grading
      val stopped = stopThriftServer()
      require(stopped, "thrift server port failed to close on stop()")
      val out = rows.map { case (st, n, cents, nPaged) =>
        Row(st, n, cents, nPaged, true, true) }
      val schema = StructType(Seq(
        StructField("o_orderstatus", StringType),
        StructField("n_orders", LongType),
        StructField("cents", LongType),
        StructField("n_paged", LongType),
        StructField("discovered", BooleanType),
        StructField("server_stopped", BooleanType)))
      s.createDataFrame(new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava), schema)
        .orderBy("o_orderstatus")
    },
      // Wire invisibility again, now for the lifecycle op: the rollup over
      // the source parquet, n_paged = the LIMIT'd cardinality of the first
      // status (paging is lossless), attest columns TRUE (the op fails
      // loudly before emitting rows otherwise).
      """WITH base AS (SELECT o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS c
        |  FROM orders),
        |first_st AS (SELECT MIN(o_orderstatus) AS st FROM base),
        |paged AS (SELECT LEAST(CAST(500 AS BIGINT), COUNT(*)) AS n_paged
        |  FROM base, first_st WHERE o_orderstatus = st)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(c) AS BIGINT) AS cents,
        |  (SELECT n_paged FROM paged) AS n_paged,
        |  TRUE AS discovered, TRUE AS server_stopped
        |FROM base GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    Op("service_connect_endpoint", (s, d) => {
      val port = ensureConnectServer(s)
      val isolated = connectIsolationProbe(port)
      // the graded rollup runs THROUGH the gRPC wire over the source
      // parquet directly (endpoint invisibility: no staging table) —
      // exact-decimal money, double only at the edge
      val c = connectClient(port, "grader")
      val decoded =
        try sqlViaConnect(c,
          s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
             |FROM parquet.`$d/orders.parquet` GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)
        finally {
          cxShutdown(c)
          // everything above is already materialized client-side; stop the
          // server so its non-daemon gRPC threads can't pin the JVM open
          // (Verify/Bench are plain mains). Re-entry restarts it.
          synchronized {
            org.apache.spark.sql.graftbridge.ConnectBridge.stopServer()
            connectPort = -1
          }
        }
      val rows = decoded.map(r => Row(
        String.valueOf(r(0)),
        r(1).asInstanceOf[java.lang.Long].longValue(),
        r(2).asInstanceOf[java.lang.Double].doubleValue(),
        isolated))
      val schema = StructType(Seq(
        StructField("o_orderstatus", StringType),
        StructField("n_orders", LongType),
        StructField("total", DoubleType),
        StructField("session_isolated", BooleanType)))
      s.createDataFrame(new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        .orderBy("o_orderstatus")
    },
      // Same invisibility contract for the Connect wire: Arrow IPC decode
      // must hand back exactly the rollup over the source parquet.
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  TRUE AS session_isolated
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    Op("service_sql_endpoint", (s, d) => {
      // server first (its port conf must be in the session conf before
      // the execution Hive client materializes), then publish the served
      // table into the Derby metastore (idempotent overwrite; external
      // path in scratch so re-creation is safe)
      val port = ensureServer(s)
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .option("path", Scratch.opDir("svc_orders", d))
        .format("parquet").saveAsTable("graft_svc_orders")
      val isolated = isolationProbe(port)
      // the graded rollup runs THROUGH the JDBC wire: exact-decimal money
      // (the repo-wide DECIMAL(18,4) law), double only at the edge
      val conn = connect(port)
      val rows =
        try {
          val rs = conn.createStatement().executeQuery(
            """SELECT o_orderstatus, COUNT(*) AS n_orders,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
              |FROM graft_svc_orders GROUP BY o_orderstatus
              |ORDER BY o_orderstatus""".stripMargin)
          val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
          while (rs.next())
            buf += Row(rs.getString(1), rs.getLong(2), rs.getDouble(3), isolated)
          buf.toSeq
        } finally conn.close()
      val schema = StructType(Seq(
        StructField("o_orderstatus", StringType),
        StructField("n_orders", LongType),
        StructField("total", DoubleType),
        StructField("session_isolated", BooleanType)))
      s.createDataFrame(new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        .orderBy("o_orderstatus")
    },
      // The wire protocol must be invisible: the oracle is the rollup
      // straight over the source parquet, isolation attested TRUE (the op
      // fails loudly before emitting rows if the probe cannot prove it).
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  TRUE AS session_isolated
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  )
}
