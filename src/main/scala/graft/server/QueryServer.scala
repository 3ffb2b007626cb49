package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** HTTP serving entry point — the analog of the reference's Servant app
  * (haskellServer/src/Lib.hs:28-46), which exposes two extracted fiat2
  * programs as GET routes returning JSON. Built on the JDK's
  * `com.sun.net.httpserver` (no extra dependency), with Spark as the
  * execution engine behind each route:
  *
  *   - `GET /get_artist_less_than/{n}`   — range-scan filter route
  *   - `GET /get_album_and_artist/{n}`   — FK-join route
  *   - `GET /query/{name}`               — ANY registered engine query
  *     (`SparkEntry.queries`) served at this server's data dir
  *   - `GET /`                           — route listing
  *
  * Results come back as a JSON array of row objects, rendered by
  * `QueryServer.render`: each row becomes one `to_json` string inside the
  * query's own plan, and only the first `maxRows` are collected. Queries
  * on a warm SparkSession are concurrent-safe, so the handler pool serves
  * parallel requests.
  *
  * Replies leave without a delayed-ACK stall: `start()` turns on the JDK
  * server's `sun.net.httpserver.nodelay` (TCP_NODELAY on accepted
  * sockets) unless the process already set it. The JDK reads that
  * property once per JVM, when its server configuration class is first
  * loaded, so this is a one-time, process-wide setting that holds for
  * every `com.sun.net.httpserver` server in the process. Without it,
  * Nagle's algorithm holds each reply's body, sent after the flushed
  * headers, until the client's delayed ACK, about 40 ms later, on every
  * keep-alive connection.
  *
  * A request loads only the tables it reads: `/run` and `/runc` bind the
  * store tables their program names, and `Tables.load` answers a table
  * whose files and parquet confs are unchanged from its relation memo,
  * with no Spark job and no file-source resolution.
  */
final class QueryServer(spark: SparkSession, dataDir: String,
    port: Int = 8080, maxRows: Int = 10000, host: String = "127.0.0.1") {

  private var server: HttpServer = _
  private var pool: ExecutorService = _

  /** Bind and start; returns the actual port (pass port=0 for ephemeral).
    * Binds loopback by default — POST /run executes arbitrary programs, so
    * exposing it beyond localhost is an explicit opt-in (host = "0.0.0.0").
    */
  def start(): Int = {
    // only before the first HttpServer.create in the JVM has any effect
    System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    // HttpServer.stop never shuts down an executor it was handed, so the
    // server keeps the pool and stop() ends its (non-daemon) threads
    val name = s"graft-query-server-$boundPort-"
    val ids = new AtomicInteger
    pool = Executors.newFixedThreadPool(4,
      (r: Runnable) => new Thread(r, name + ids.incrementAndGet()))
    server.setExecutor(pool)
    server.start()
    boundPort
  }

  def boundPort: Int = server.getAddress.getPort

  /** Stop serving and end the handler threads; a handler still running a
    * query gets up to 5 s to finish. */
  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) {
      pool.shutdown()
      pool.awaitTermination(5, TimeUnit.SECONDS)
    }
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      val body = new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      route(ex.getRequestMethod, ex.getRequestURI.getPath, body) match {
        case Some(json) => respond(ex, 200, json)
        case None => respond(ex, 404, """{"error":"unknown route"}""")
      }
    } catch {
      case e: Exception =>
        // the program is at fault (400) only for the language's parse and
        // type errors, told apart by type; anything else is an engine
        // fault (500)
        val code = e match {
          case _: graft.lang.Parser.ParseError | _: graft.lang.TypeCheck.TypeError => 400
          case _ => 500
        }
        respond(ex, code, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** The JSON reply of a known route. */
  private def route(method: String, path: String,
      body: String): Option[String] =
    path.split("/").filter(_.nonEmpty) match {
      case Array("runc") if method == "POST" => Some(runCommand(body))
      case parts =>
        frame(method, parts, body).map(QueryServer.render(_, maxRows))
    }

  /** The rows a known route other than `/runc` answers with. */
  private def frame(method: String, parts: Array[String],
      body: String): Option[DataFrame] =
    parts match {
      case Array() => Some(routeListing)
      case Array("get_artist_less_than", IntArg(n)) => Some(artistLessThan(n))
      case Array("get_album_and_artist", IntArg(n)) => Some(albumAndArtist(n))
      case Array("query", name) =>
        graft.SparkEntry.queries.get(name).map(f => f(spark, dataDir))
      case Array("run") if method == "POST" => Some(runProgram(body))
      case Array("extract") if method == "POST" => Some(extractProgram(body))
      case Array("extract_py") if method == "POST" =>
        Some(extractProgramPy(body))
      case _ => None
    }

  /** The store tables among `names`, loaded for this request only. A name
    * outside `Tables.all` stays unbound, so the compiler reports it as a
    * type error (400). */
  private def store(names: Set[String]): Map[String, DataFrame] =
    Tables.all.filter(names).map(n => n -> Tables.load(spark, dataDir, n)).toMap

  /** `POST /run` — the request body is a surface-syntax EXPRESSION (the
    * notation `Parser` accepts; each store table it names is bound, so
    * `mut nation` etc. work). The program is parsed, typechecked against
    * those tables (each typed from its schema), join-recognized, and
    * compiled to a distributed plan — the haskellServer's
    * elaborate-then-run request path (haskellServer/src/Extracted.hs:2217)
    * with the whole engine behind it. A mistyped program is a 400 before
    * any Spark job starts.
    */
  private def runProgram(src: String): DataFrame = {
    import graft.lang.{Compiler, Parser, Rewrites}
    val prog = Parser.parseExpr(src)
    val env = Compiler.Env(Map.empty, store(Rewrites.locs(prog)), spark)
    Compiler.compileProgram(prog, env) match {
      case Compiler.TV(df) => df
      case Compiler.CV(c) => Compiler.oneRow(spark).select(c.as("value"))
    }
  }

  /** `POST /runc` — the body is a surface-syntax COMMAND program. It is
    * typechecked against the store tables it reads or assigns (a mistyped
    * program is a 400 before any Spark job starts), runs through the whole
    * optimization pipeline (`Optimize`: recognition, collection
    * annotation, incremental aggregate maintenance, index introduction),
    * and the store cell named `result` is returned as JSON — the
    * reference's typecheck-optimize-interpret lifecycle behind one
    * route. */
  private def runCommand(src: String): String = {
    import graft.lang.{Compiler, Optimize, Parser, Rewrites}
    val prog = Parser.parseCommand(src)
    val end = Optimize.run(prog,
      Compiler.Env(Map.empty, store(Rewrites.locs(prog)), spark))
    // render the reply BEFORE releasing the caches the Optimize pipeline
    // pinned (keyed indexes), and release them on every path — a program
    // with no `result` or a failing render would otherwise leave dead
    // cached RDDs in a long-lived server
    try {
      QueryServer.render(end.store.getOrElse("result",
        throw new IllegalArgumentException(
          "program must assign a table to `result`")), maxRows)
    } finally {
      end.indexes.values.foreach(_.unpersist())
      end.compoIndexes.values.foreach(_.unpersist())
    }
  }

  /** `POST /extract` — same surface-syntax body as /run, but instead of
    * executing, the program is parsed, recognized, collection-annotated,
    * and EXTRACTED to portable SQL (`ToSql`) — the reference's
    * print-to-target-language path (fiat2/src/fiat2/ToPython.v:231-232)
    * served over HTTP. Returns one row {sql: "..."} so a client can run
    * the text on any ANSI engine. */
  private def extractProgram(src: String): DataFrame = {
    import graft.lang.{CollectionTransf, Parser, Rewrites, ToSql}
    import spark.implicits._
    val text = ToSql(CollectionTransf.annotate(
      Rewrites.normalize(Parser.parseExpr(src))))
    Seq(text).toDF("sql")
  }

  /** `POST /extract_py` — the reference's actual extraction target
    * (program_py run under CPython): the surface expression is parsed,
    * recognized, and rendered as a self-contained Python program whose
    * final statement prints the value. Returns one row {python: "..."}. */
  private def extractProgramPy(src: String): DataFrame = {
    import graft.lang.{Parser, Rewrites, ToPython}
    import spark.implicits._
    val e = Rewrites.normalize(Parser.parseExpr(src))
    val text = ToPython.prelude64 + s"print(${ToPython(e)})\n"
    Seq(text).toDF("python")
  }

  /** `exported_get_artist` (Lib.hs:42-43): artists (customers) with id
    * below the captured bound. */
  private def artistLessThan(n: Long): DataFrame =
    Tables.load(spark, dataDir, "customer")
      .filter(col("c_custkey") < n)
      .select(col("c_custkey").as("artist_id"), col("c_name").as("artist"))
      .orderBy("artist_id")

  /** `exported_get_album_and_artist` (Lib.hs:45-46): albums (orders) joined
    * to their artist, bound-parameterized like the Servant capture. */
  private def albumAndArtist(n: Long): DataFrame =
    Tables.load(spark, dataDir, "orders")
      .join(broadcast(Tables.load(spark, dataDir, "customer")
        .filter(col("c_custkey") < n)), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("album_id"), col("c_name").as("artist"))
      .orderBy("album_id")

  private def routeListing: DataFrame = {
    import spark.implicits._
    (Seq("/get_artist_less_than/{n}", "/get_album_and_artist/{n}",
      "POST /run  (body: surface-syntax expression)",
      "POST /runc  (body: surface-syntax command; returns `result`)",
      "POST /extract  (body: surface-syntax expression; returns SQL)",
      "POST /extract_py  (body: surface-syntax expression; returns Python)") ++
      graft.SparkEntry.queries.keys.toSeq.sorted.map(q => s"/query/$q"))
      .toDF("route")
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private object IntArg {
    def unapply(s: String): Option[Long] =
      try Some(s.toLong) catch { case _: NumberFormatException => None }
  }
}

object QueryServer {
  /** The JSON array of `df`'s first `maxRows` rows, one object per row,
    * byte for byte what `df.limit(maxRows).toJSON` collects (the one known
    * difference: a map whose keys are structs, which no registered query
    * returns). The limit is the root of the plan, so Spark collects it
    * with `CollectLimitExec` (a sorted frame: `TakeOrderedAndProjectExec`)
    * and no shuffle. Under `toJSON` the limit sits below its object
    * operators, and for an unsorted frame Spark plans a local limit, a
    * single-partition exchange and a global limit: one more job. */
  def render(df: DataFrame, maxRows: Int): String =
    df.select(to_json(struct(col("*")))).limit(maxRows)
      .as(Encoders.STRING).collect().mkString("[", ",", "]")
}

/** `startApp` (Lib.hs:30-32): serve until killed. Args: dataDir [port]. */
object QueryServerMain {
  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val spark = graft.core.GraftSession.local()
    val server = new QueryServer(spark, dataDir, port)
    val bound = server.start()
    println(s"Starting server on port $bound")
    Thread.currentThread.join()
  }
}
