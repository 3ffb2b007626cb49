package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.lang.{Compiler, Interp, Parser, Rewrites}

/** One HTTP request of the `serve` mix. */
final case class Request(method: String, path: String, body: String) {
  def key: String = s"$method $path $body"
}

/** Seeded request mix, dealt in decks of 44 requests: four hands of 11,
  * each with a fixed route mix, 6 GET routes (55%), 2 `/query` lookups
  * (18%), 2 `POST /run` (18%) and 1 `POST /runc` (9%), in a seeded order.
  * Keys are zipf-skewed, so requests repeat. */
object RequestMix {
  val lookupFamily: Seq[String] = Seq("q_pk_index_lookup",
    "q_rule_index_lookup", "q_bitmap_index", "q_dict_index_lookup")

  private val hand: Seq[Int] =
    Seq.fill(3)(0) ++ Seq.fill(3)(1) ++ Seq.fill(2)(2) ++ Seq.fill(2)(3) ++ Seq(4)

  /** One request of every route kind. */
  def warmDeck(seed: Long): Seq[Request] = {
    decks(seed)().groupBy(_.path.split("/")(1)).values.map(_.head).toSeq
  }

  /** Successive decks from one seed. */
  def decks(seed: Long): () => Seq[Request] = {
    val rnd = new Random(seed)
    // 10 bounds per route, zipf-ranked in a seed-shuffled order
    val bounds = rnd.shuffle((0 until 10).map(k => 5L + 10 * k))
    val boundOf = Common.zipfSampler(bounds.size, 1.0, rnd)
    val queryOf = Common.zipfSampler(lookupFamily.size, 1.0, rnd)
    val regionOf = Common.zipfSampler(5, 1.0, rnd)
    () => Seq.fill(4)(rnd.shuffle(hand)).flatten.map { route =>
      val b = bounds(boundOf())
      route match {
        case 0 => Request("GET", s"/get_artist_less_than/$b", "")
        case 1 => Request("GET", s"/get_album_and_artist/$b", "")
        case 2 => Request("GET", s"/query/${lookupFamily(queryOf())}", "")
        case 3 => Request("POST", "/run", runProgram(rnd.nextInt(3), b, regionOf()))
        case _ => Request("POST", "/runc", runcProgram(b))
      }
    }
  }

  private def runProgram(kind: Int, b: Long, region: Int): String = kind match {
    case 0 =>
      s"""n <- mut nation; check(n[n_regionkey] == $region);
         |ret { key : n[n_nationkey], name : n[n_name] }""".stripMargin
    case 1 =>
      s"""o <- mut orders; c <- mut customer;
         |check(o[o_custkey] == c[c_custkey] && o[o_custkey] < $b);
         |ret { okey : o[o_orderkey], cust : c[c_name] }""".stripMargin
    case _ =>
      s"""fold (o <- mut orders; check(o[o_custkey] < $b); ret o[o_orderkey])
         |  0 v acc v + acc""".stripMargin
  }

  private def runcProgram(b: Long): String =
    s"""let mut out := nil[{k : int, n : int}] in
       |for kv in [$b, ${b + 1}] :
       |  set out := { k : kv,
       |    n : len(o <- mut orders; check(o[o_custkey] == kv); ret o)
       |  } :: mut out
       |end;
       |set result := mut out""".stripMargin
}

/** `serve`: a closed loop of one client per core against an in-process
  * `QueryServer` over loopback HTTP. Each client takes the next request of
  * the current deck when its previous reply arrived; decks are dealt until
  * the deadline and the last one is finished, so every run sends whole
  * decks. An op is one request; a non-200 reply fails it, and after the
  * window every distinct request's reply is compared with the in-process
  * answer of the same route. */
final class Serve extends Workload {
  private var server: graft.server.QueryServer = _
  private var port = 0
  private val replies = new ConcurrentLinkedQueue[(Int, Request, Int, String)]()

  def setup(ctx: Ctx): Map[String, Double] = {
    server = new graft.server.QueryServer(ctx.spark, ctx.dataDir, port = 0)
    port = server.start()
    val t0 = System.nanoTime()
    // untimed warm-up: one request per route kind from a seed the timed
    // clients never use, side by side
    Common.inParallel(RequestMix.warmDeck(ctx.seed ^ 0x5eedL))(r => call(r))
    Map("harness.warm_s" -> (System.nanoTime() - t0) / 1e9)
  }

  private def call(r: Request): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port${r.path}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(r.method)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(120000)
    if (r.method == "POST") {
      conn.setDoOutput(true)
      conn.getOutputStream.write(r.body.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    in.close()
    (code, body)
  }

  def timed(ctx: Ctx, deadlineNs: Long): Seq[OpResult] = {
    val ops = new ConcurrentLinkedQueue[(Int, OpResult)]()
    val nextDeck = RequestMix.decks(ctx.seed)
    var deck = Iterator.empty[Request]
    var seq = 0
    // the next request, or None once the deadline passed and the deck ended
    def take(): Option[(Int, Request)] = synchronized {
      if (!deck.hasNext && System.nanoTime() < deadlineNs) deck = nextDeck().iterator
      if (deck.hasNext) { seq += 1; Some((seq - 1, deck.next())) } else None
    }
    Common.inParallel(0 until Common.cpus) { _ =>
      var next = take()
      while (next.isDefined) {
        val (i, r) = next.get
        val t0 = System.nanoTime()
        val (code, body) = try Trace.span("op", i.toLong) {
          Trace.span("server.client")(call(r))
        } catch { case e: Exception => (-1, e.toString) }
        val ms = (System.nanoTime() - t0) / 1e6
        replies.add((i, r, code, body))
        ops.add(i -> OpResult(r.path, ms,
          if (code == 200) None else Some(s"${r.method} ${r.path} -> $code: ${body.take(200)}")))
        next = take()
      }
    }
    ops.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  /** Split a JSON array of objects into its elements. */
  private def elements(json: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inStr = false; var esc = false; var start = -1
    for (i <- json.indices) {
      val c = json(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' | '[' =>
          if (depth == 1 && c == '{') start = i
          depth += 1
        case '}' | ']' =>
          depth -= 1
          if (depth == 1 && c == '}') out += json.substring(start, i + 1)
        case _ =>
      }
    }
    out.result()
  }

  /** The in-process answer of a request's route, as JSON rows. */
  private def expected(ctx: Ctx, r: Request): Seq[String] = {
    val spark = ctx.spark
    val dir = ctx.dataDir
    def store = Tables.all.map(n => n -> Tables.load(spark, dir, n)).toMap
    def rows(df: DataFrame) = df.limit(10000).toJSON.collect().toSeq
    r.path.split("/").filter(_.nonEmpty) match {
      case Array("get_artist_less_than", n) =>
        rows(Tables.load(spark, dir, "customer").filter(col("c_custkey") < n.toLong)
          .select(col("c_custkey").as("artist_id"), col("c_name").as("artist")))
      case Array("get_album_and_artist", n) =>
        val c = Tables.load(spark, dir, "customer").filter(col("c_custkey") < n.toLong)
        rows(Tables.load(spark, dir, "orders")
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey").as("album_id"), col("c_name").as("artist")))
      case Array("query", name) => rows(graft.SparkEntry.queries(name)(spark, dir))
      case Array("run") =>
        Compiler.compile(Rewrites.normalize(Parser.parseExpr(r.body)),
            Compiler.Env(Map.empty, store, spark)) match {
          case Compiler.TV(df) => rows(df)
          case Compiler.CV(c) => rows(Compiler.oneRow(spark).select(c.as("value")))
        }
      case Array("runc") =>
        // the un-optimized command: plain interpretation, no Optimize
        rows(Interp.run(Parser.parseCommand(r.body),
          Compiler.Env(Map.empty, store, spark)).store("result"))
      case other => sys.error(s"no reference for ${r.path}")
    }
  }

  override def referenceCheck(ctx: Ctx): Map[Int, String] = {
    server.stop()
    val ok = replies.asScala.toSeq.filter(_._3 == 200)
    val want = new java.util.concurrent.ConcurrentHashMap[Request, scala.util.Try[Seq[String]]]()
    Common.inParallel(ok.map(_._2).distinct)(r =>
      want.put(r, scala.util.Try(expected(ctx, r).sorted)))
    ok.flatMap { case (i, r, _, body) =>
      want.get(r) match {
        case scala.util.Failure(e) => Some(i -> s"${r.key}: reference threw $e")
        case scala.util.Success(w) =>
          val got = elements(body).sorted
          if (got == w) None
          else Some(i -> (s"${r.key}: reply differs from the in-process answer " +
            s"(${got.size} rows vs ${w.size})"))
      }
    }.toMap
  }

  override def layerMetrics(ops: Seq[OpResult]): Map[String, Double] = {
    val rs = replies.asScala.toSeq
    val n = math.max(rs.size, 1).toDouble
    Map(
      "server.response_kb" -> rs.map(_._4.length).sum / 1024.0 / n,
      "server.status_5xx" -> rs.count(r => r._3 >= 500).toDouble,
      "server.repeat_frac" -> (rs.size - rs.map(_._2).distinct.size) / n,
      "harness.rows_out" -> rs.map(r => elements(r._4).size).sum / n)
  }
}
