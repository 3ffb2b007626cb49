package graft

import java.net.{HttpURLConnection, URI}
import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite
import graft.server.QueryServer

/** The HTTP serving entry point (Lib.hs analog) driven over a real socket:
  * both reference routes, the generic query route, and error paths.
  */
class QueryServerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def get(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(stream, "UTF-8").mkString
    // closing the fully read reply, not disconnect(), returns the socket
    // to the keep-alive cache for the next request, as a client would
    stream.close()
    (code, body)
  }

  private def withServer(f: Int => Unit): Unit = {
    val srv = new QueryServer(spark, TestSpark.sfDir, port = 0)
    val port = srv.start()
    try f(port) finally srv.stop()
  }

  test("reference routes serve parameterized JSON results") {
    withServer { port =>
      import org.apache.spark.sql.functions.col
      val (c1, artists) = get(s"http://localhost:$port/get_artist_less_than/4")
      assert(c1 === 200)
      // one row object per artist below the bound
      val nArtists = graft.core.Tables.load(spark, TestSpark.sfDir, "customer")
        .filter(col("c_custkey") < 4).count()
      assert("\"artist_id\":".r.findAllIn(artists).size === nArtists)
      assert(artists.contains("\"artist_id\":1"))

      val (c2, albums) = get(s"http://localhost:$port/get_album_and_artist/2")
      assert(c2 === 200)
      val nAlbums = graft.core.Tables.load(spark, TestSpark.sfDir, "orders")
        .filter(col("o_custkey") < 2).count()
      assert("\"album_id\":".r.findAllIn(albums).size === nAlbums)
    }
  }

  test("generic /query/{name} route serves any registered engine query") {
    withServer { port =>
      val (code, body) = get(s"http://localhost:$port/query/q1_agg")
      assert(code === 200)
      assert(body.startsWith("[") && body.contains("\"l_returnflag\""))
    }
  }

  private def post(url: String, body: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    conn.getOutputStream.write(body.getBytes("UTF-8"))
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val out = Source.fromInputStream(stream, "UTF-8").mkString
    stream.close()
    (code, out)
  }

  test("POST /run executes a surface-syntax program") {
    withServer { port =>
      val program =
        """n <- mut nation;
          |check(n[n_regionkey] == 0);
          |ret { key : n[n_nationkey], name : n[n_name] }""".stripMargin
      val (code, body) = post(s"http://localhost:$port/run", program)
      assert(code === 200)
      val expected = graft.core.Tables.load(spark, TestSpark.sfDir, "nation")
        .filter(org.apache.spark.sql.functions.col("n_regionkey") === 0).count()
      assert("\"key\":".r.findAllIn(body).size === expected)
      // a scalar program returns a single value row
      val (c2, b2) = post(s"http://localhost:$port/run", "2 + 3 * 4")
      assert(c2 === 200 && b2 === """[{"value":14}]""")
      // a broken program is the client's fault: 400 with the parse error
      val (c3, b3) = post(s"http://localhost:$port/run", "ret {")
      assert(c3 === 400 && b3.contains("parse error"), b3)
      // an engine fault (here a TInt overflow at execution) stays a 500
      val (c4, b4) = post(s"http://localhost:$port/run",
        "9223372036854775807 + 1")
      assert(c4 === 500 && b4.contains("overflow"), b4)
      // GET on /run is not a route
      assert(get(s"http://localhost:$port/run")._1 === 404)
    }
  }

  test("POST /run binds only the tables its program names") {
    // a data dir without embeddings: a server that bound every table per
    // request would fail each /run on the missing file
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_partial_")
    try {
      for (t <- graft.core.Tables.all if t != "embeddings")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"${TestSpark.sfDir}/$t.parquet"),
          dir.resolve(s"$t.parquet"))
      val srv = new QueryServer(spark, dir.toString, port = 0)
      val port = srv.start()
      try {
        val program =
          """n <- mut nation;
            |check(n[n_regionkey] == 0);
            |ret { key : n[n_nationkey] }""".stripMargin
        val (code, body) = post(s"http://localhost:$port/run", program)
        assert(code === 200, body)
        val expected = graft.core.Tables.load(spark, TestSpark.sfDir, "nation")
          .filter(org.apache.spark.sql.functions.col("n_regionkey") === 0)
          .collect().map(_.getAs[Number]("n_nationkey").longValue).toSet
        assert("\"key\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong)
          .toSet === expected, body)
        // a table outside the store is still the program's fault
        val (c2, b2) = post(s"http://localhost:$port/run",
          "x <- mut no_such_table; ret x")
        assert(c2 === 400, b2)
        val (c3, b3) = post(s"http://localhost:$port/runc",
          "set result := mut no_such_table")
        assert(c3 === 400, b3)
      } finally srv.stop()
    } finally graft.core.Tables.deleteTree(dir.toFile)
  }

  test("POST /runc runs a command program through the Optimize pipeline") {
    withServer { port =>
      val program =
        """let mut out := nil[{k : int, n : int}] in
          |for kv in [1, 2] :
          |  set out := { k : kv,
          |    n : len(n <- mut nation; check(n[n_regionkey] == kv); ret n)
          |  } :: mut out
          |end;
          |set result := mut out""".stripMargin
      val (code, body) = post(s"http://localhost:$port/runc", program)
      assert(code === 200)
      val expected = (1L to 2L).map { k =>
        graft.core.Tables.load(spark, TestSpark.sfDir, "nation")
          .filter(org.apache.spark.sql.functions.col("n_regionkey") === k)
          .count()
      }
      for ((n, k) <- expected.zip(Seq(1, 2)))
        assert(body.contains(s""""k":$k,"n":$n"""), s"$body")
      // a program without a `result` assignment reports the contract
      val (c2, b2) = post(s"http://localhost:$port/runc", "skip")
      assert(c2 === 500 && b2.contains("result"))
      // a mistyped program (a table as a condition) is a 400
      val (c3, b3) = post(s"http://localhost:$port/runc",
        "if mut nation then set result := mut nation else skip end")
      assert(c3 === 400 && b3.contains("if condition"), b3)
    }
  }

  test("POST /runc releases the indexes it pinned when the program fails") {
    withServer { port =>
      // the loop point-filters nation, so Optimize pins a keyed index;
      // the program never assigns `result`
      val program =
        """let mut out := nil[{k : int, n : int}] in
          |for kv in [1, 2] :
          |  set out := { k : kv,
          |    n : len(n <- mut nation; check(n[n_regionkey] == kv); ret n)
          |  } :: mut out
          |end""".stripMargin
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val (code, body) = post(s"http://localhost:$port/runc", program)
      assert(code !== 200, body)
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === before)
    }
  }

  test("POST /runc releases an index it inserted into") {
    withServer { port =>
      // the point filters index orders on o_orderkey, and the loop inserts
      // the matching row again: the index's base cache must be released
      // along with any cached delta
      val program =
        """for o in filter (mut orders) x (x[o_orderkey] == 1) :
          |  set orders := o :: mut orders
          |end;
          |set result := filter (mut orders) x (x[o_orderkey] == 1)""".stripMargin
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val (code, body) = post(s"http://localhost:$port/runc", program)
      assert(code === 200, body)
      assert(body.split("\"o_orderkey\":1,").length - 1 === 2, body)
      // only what the request added: the cache manager shares one entry
      // per plan, so an identical index another suite left cached is
      // released along with this one
      assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
        .isEmpty)
    }
  }

  /** The call site of every job one `request` starts on the warm server,
    * and its reply. A first send, answered with `warm`, fills the relation
    * memo and the codegen cache. JobStart reaches listeners
    * asynchronously, so the count is read once it has been still for
    * 300 ms, before and after the counted send (JobCountSpec's settle). */
  private def jobsOf(request: => (Int, String),
      warm: Int = 200): (Seq[String], (Int, String)) = {
    // the engine frame of each job's final stage, for failure messages
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val details = js.stageInfos.lastOption.map(_.details).getOrElse("")
        sites.add(details.linesIterator.map(_.trim)
          .find(_.startsWith("graft.")).getOrElse(details.takeWhile(_ != '\n')))
        ()
      }
    }
    def settle(): Unit = {
      var last = sites.size
      var still = 0
      while (still < 3) {
        Thread.sleep(100)
        val now = sites.size
        if (now == last) still += 1 else { still = 0; last = now }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(request._1 === warm)
      settle()
      sites.clear()
      val reply = request
      settle()
      (sites.toArray(Array.empty[String]).toSeq, reply)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a mistyped /run or /runc is a 400 that starts no Spark job") {
    // the program is typechecked against its tables' types before it
    // compiles: a string compared with an int, and an assignment that
    // changes a table's type
    withServer { port =>
      for ((route, program, error) <- Seq(
          ("/run", """n <- mut nation; check(n[n_name] == 3); ret n""", "eq"),
          ("/runc", "set nation := mut region;\nset result := mut nation",
            "assign changes type of nation"))) {
        val (sites, (code, body)) =
          jobsOf(post(s"http://localhost:$port$route", program), warm = 400)
        assert(code === 400 && body.contains(error), body)
        assert(sites.isEmpty, s"a mistyped $route request started " +
          s"${sites.size} jobs: ${sites.mkString("; ")}")
      }
    }
  }

  test("a deeply nested mistyped /run is a prompt 400") {
    // 40 left-nested comparisons, each mistyped: the typecheck rejects the
    // innermost once instead of retrying every operand from its sibling
    val program = (1 to 40).foldLeft("1")((e, _) => s"($e == true)")
    withServer { port =>
      val t0 = System.nanoTime()
      val (code, body) = post(s"http://localhost:$port/run", program)
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(code === 400 && body.contains("eq"), body)
      assert(seconds < 30, f"the 400 took $seconds%.1f s")
    }
  }

  test("the serve benchmark's program shapes answer 200 with their rows") {
    // the three `/run` kinds and the `/runc` program of the benchmark's
    // request mix, at one bound and region, against the same answers
    // computed with the DataFrame API
    import org.apache.spark.sql.functions._
    def load(t: String) = graft.core.Tables.load(spark, TestSpark.sfDir, t)
    def rows(json: String): Seq[String] = "\\{[^{}]*\\}".r.findAllIn(json).toSeq.sorted
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      rows(QueryServer.render(df, 10000))
    val b = 35L
    val orders = load("orders")
    val cases = Seq(
      ("/run", s"""n <- mut nation; check(n[n_regionkey] == 1);
         |ret { key : n[n_nationkey], name : n[n_name] }""".stripMargin,
        load("nation").filter(col("n_regionkey") === 1)
          .select(col("n_nationkey").as("key"), col("n_name").as("name"))),
      ("/run", s"""o <- mut orders; c <- mut customer;
         |check(o[o_custkey] == c[c_custkey] && o[o_custkey] < $b);
         |ret { okey : o[o_orderkey], cust : c[c_name] }""".stripMargin,
        orders.join(load("customer"), col("o_custkey") === col("c_custkey"))
          .filter(col("o_custkey") < b)
          .select(col("c_name").as("cust"), col("o_orderkey").as("okey"))),
      ("/run", s"""fold (o <- mut orders; check(o[o_custkey] < $b); ret o[o_orderkey])
         |  0 v acc v + acc""".stripMargin,
        orders.filter(col("o_custkey") < b)
          .agg(coalesce(sum("o_orderkey"), lit(0L)).as("value"))),
      ("/runc", s"""let mut out := nil[{k : int, n : int}] in
         |for kv in [$b, ${b + 1}] :
         |  set out := { k : kv,
         |    n : len(o <- mut orders; check(o[o_custkey] == kv); ret o)
         |  } :: mut out
         |end;
         |set result := mut out""".stripMargin,
        spark.range(b, b + 2).select(col("id").as("k"))
          .join(orders, col("k") === col("o_custkey"), "left")
          .groupBy("k").agg(count(col("o_custkey")).as("n"))))
    withServer { port =>
      for ((route, program, want) <- cases) {
        val (code, body) = post(s"http://localhost:$port$route", program)
        assert(code === 200, body)
        assert(rows(body) === rowsOf(want), program)
      }
    }
  }

  test("POST /runc renders its reply with one action") {
    // the reply is rendered straight from `result`: the two query-stage
    // jobs that fill the keyed index Optimize put on nation (its
    // single-partition shuffle, then the cache) and the render itself.
    // Collecting the rows first, rebuilding a DataFrame from them and
    // rendering that cost one job more
    val program = "set result := filter (mut nation) n (n[n_regionkey] == 1)"
    withServer { port =>
      val (sites, (code, body)) =
        jobsOf(post(s"http://localhost:$port/runc", program))
      val expected = graft.core.Tables.load(spark, TestSpark.sfDir, "nation")
        .filter(org.apache.spark.sql.functions.col("n_regionkey") === 1)
        .count()
      assert(code === 200, body)
      assert(body.split("\"n_regionkey\":1").length - 1 === expected, body)
      assert(sites.size === 3, s"one /runc request started " +
        s"${sites.size} jobs: ${sites.mkString("; ")}")
    }
  }

  test("a reply starts only its plan's jobs: no shuffle to render it") {
    // a `toJSON` render put the limit under its object operators, so Spark
    // planned a local limit, a single-partition exchange and a global
    // limit: one more job on every unsorted reply
    val program =
      """n <- mut nation;
        |check(n[n_regionkey] == 0);
        |ret { key : n[n_nationkey], name : n[n_name] }""".stripMargin
    withServer { port =>
      val url = s"http://localhost:$port"
      for ((route, send, want) <- Seq(
          ("/get_artist_less_than", () => get(s"$url/get_artist_less_than/40"), 1),
          // the broadcast of the customer side, then the sorted collect
          ("/get_album_and_artist", () => get(s"$url/get_album_and_artist/40"), 2),
          ("POST /run", () => post(s"$url/run", program), 1))) {
        val (sites, (code, body)) = jobsOf(send())
        assert(code === 200, body)
        assert(sites.size === want, s"one $route request started " +
          s"${sites.size} jobs: ${sites.mkString("; ")}")
      }
    }
  }

  test("replies on a keep-alive connection arrive without a delayed-ACK stall") {
    // an unknown route starts no Spark job, so its round trip is the
    // server's alone; with Nagle's algorithm on the accepted socket, the
    // body waits behind the flushed headers for the client's delayed ACK
    // (about 40 ms) on every request of a reused connection (`get` and
    // `post` leave theirs open for the next)
    withServer { port =>
      val url = s"http://localhost:$port/no_such_route"
      for (method <- Seq("GET", "POST")) {
        val ms = (1 to 20).map { _ =>
          val t0 = System.nanoTime()
          val code = if (method == "GET") get(url)._1 else post(url, "skip")._1
          val took = (System.nanoTime() - t0) / 1e6
          assert(code === 404)
          took
        }.sorted
        val median = (ms(9) + ms(10)) / 2
        assert(median < 20.0, s"$method median round trip $median ms: " +
          ms.map(m => f"$m%.1f").mkString(", "))
      }
    }
  }

  test("POST /extract returns portable SQL for a surface-syntax program") {
    withServer { port =>
      val program =
        """n <- mut nation;
          |check(n[n_regionkey] == 0);
          |ret { key : n[n_nationkey], name : n[n_name] }""".stripMargin
      val (code, body) = post(s"http://localhost:$port/extract", program)
      assert(code === 200)
      assert(body.contains("SELECT") && body.contains("nation"), body)
      // the returned SQL actually runs on the engine (JSON unwrapped by
      // hand — single {"sql": "..."} row)
      val text = body.stripPrefix("""[{"sql":"""").stripSuffix("\"}]")
        .replace("\\\"", "\"").replace("\\n", "\n")
      graft.core.Tables.registerAll(spark, TestSpark.sfDir)
      assert(spark.sql(text).count() ===
        graft.core.Tables.load(spark, TestSpark.sfDir, "nation")
          .filter(org.apache.spark.sql.functions.col("n_regionkey") === 0)
          .count())
      // an inextractable program reports the refusal, not a hang
      val (c2, b2) = post(s"http://localhost:$port/extract", "1 / 0")
      assert(c2 === 500 && b2.contains("error"))
    }
  }

  test("POST /extract_py returns a runnable Python program") {
    withServer { port =>
      val program =
        """x <- range(0, 5);
          |check(1 < x);
          |ret x * 2""".stripMargin
      val (code, body) = post(s"http://localhost:$port/extract_py", program)
      assert(code === 200)
      assert(body.contains("print(") && body.contains("import functools"),
        body)
      // the returned program actually runs under CPython and computes the
      // comprehension's value (guarded: skip silently if no python3)
      import scala.sys.process._
      val have = try {
        Seq("python3", "-c", "print(1)").!!.trim == "1"
      } catch { case _: Exception => false }
      if (have) {
        val text = body.stripPrefix("""[{"python":"""").stripSuffix("\"}]")
          .replace("\\\"", "\"").replace("\\n", "\n")
        val f = java.nio.file.Files.createTempFile("graft_srv_py_", ".py")
        java.nio.file.Files.writeString(f, text)
        val out = Seq("python3", f.toString).!!.trim
        java.nio.file.Files.delete(f)
        assert(out === "[4, 6, 8]", s"python output: $out\nprogram:\n$text")
      }
    }
  }

  test("route listing, 404 on unknown, non-numeric capture rejected") {
    withServer { port =>
      val (c0, listing) = get(s"http://localhost:$port/")
      assert(c0 === 200 && listing.contains("/query/q1_agg"))
      assert(get(s"http://localhost:$port/no_such")._1 === 404)
      assert(get(s"http://localhost:$port/query/nope")._1 === 404)
      assert(get(s"http://localhost:$port/get_artist_less_than/xyz")._1 === 404)
    }
  }

  test("stop() ends the handler threads of the server") {
    // HttpServer.stop does not shut down the executor it was given, so
    // QueryServer.stop must, or each started server leaves its
    // non-daemon handler threads behind
    val srv = new QueryServer(spark, TestSpark.sfDir, port = 0)
    val port = srv.start()
    val handlers = try {
      assert(get(s"http://localhost:$port/query/nope")._1 === 404)
      val prefix = s"graft-query-server-$port-"
      val live = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .filter(_.getName.startsWith(prefix))
      assert(live.nonEmpty, s"no handler thread named $prefix* served the request")
      live
    } finally srv.stop()
    handlers.foreach(_.join(5000))
    val alive = handlers.filter(_.isAlive).map(_.getName)
    assert(alive.isEmpty, s"handler threads alive after stop(): ${alive.mkString(", ")}")
  }
}
