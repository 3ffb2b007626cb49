package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Layer group of a registered query: the module whose `queries` list
  * registers it, read from the package of its run function (`operators`,
  * `streaming`, `functions`, `sources`, or `LangQueries` for `graft.lang`). */
object QueryGroups {
  def of(fn: AnyRef): String = fn.getClass.getName.split('.').toList match {
    case "graft" :: "lang" :: _ => "LangQueries"
    case "graft" :: pkg :: _ => pkg
    case _ => "other"
  }

  val all: Seq[String] =
    Seq("operators", "streaming", "functions", "sources", "LangQueries")

  lazy val registered: Seq[graft.core.GraftQuery] = graft.SparkEntry.allQueries
}

/** Golden fingerprints, one line per query: `name<TAB>check<TAB>fp` where
  * check is `hash` (queries with an oracle: rows and content) or `rows`
  * (rows-only queries: the row count). */
object Golden {
  final case class Entry(check: String, fp: Fingerprint) {
    def matches(got: Fingerprint): Boolean =
      if (check == "rows") got.rows == fp.rows else got == fp
  }

  def load(path: String): Map[String, Entry] =
    Common.readLines(path).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, c, f) = l.split("\t")
      n -> Entry(c, Fingerprint.parse(f))
    }.toMap

  /** Record fingerprints: `Golden <dataDir> <out.tsv> [name,...]`. Each
    * query runs twice; a query whose two fingerprints differ is written
    * with check `unstable` and is not used by the benchmark. */
  def main(args: Array[String]): Unit = {
    val spark = Common.session(args.lift(3).getOrElse("/tmp"))
    val only = args.lift(2).filter(_.nonEmpty).map(_.split(",").toSet)
    val out = new StringBuilder
    for (q <- QueryGroups.registered if only.forall(_(q.name))) {
      val fps = (1 to 2).map { _ =>
        val before = Common.persistentIds(spark)
        val t0 = System.nanoTime()
        val fp = scala.util.Try(Fingerprint.of(q.run(spark, args(0))))
        val ms = (System.nanoTime() - t0) / 1e6
        Common.hygiene(spark, before)
        (fp, ms)
      }
      val check =
        if (fps.exists(_._1.isFailure)) "failed"
        else if (fps(0)._1.get != fps(1)._1.get) "unstable"
        else if (q.oracle.isDefined) "hash" else "rows"
      val fp = fps(1)._1.map(_.render).getOrElse(fps(1)._1.failed.get.toString)
      out ++= s"${q.name}\t$check\t$fp\n"
      System.err.println(f"[golden] ${q.name}%-36s ${QueryGroups.of(q.run)}%-12s $check%-8s " +
        f"cold=${fps(0)._2}%8.1f warm=${fps(1)._2}%8.1f ms")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), out.toString)
    spark.stop()
  }
}

/** `catalog`: the batch side, in-process. A pass runs, in an order the
  * seed shuffles, a fixed set of registered queries and one seeded command
  * program of each write:read mix. A round is two passes; rounds repeat
  * until the deadline, so every run times whole rounds (one, at the
  * benchmark's window).
  *
  * A query op calls the registered function (its eager jobs included) and
  * then materializes every column through the fingerprint, which is checked
  * against the golden one. A program op is `CommandPrograms.run`; program
  * answers are checked against the reference interpreter after the window. */
final class Catalog(queries: Seq[String], goldenPath: String) extends Workload {
  private sealed trait Op { def label: String; def group: String }
  private final case class Query(label: String, group: String) extends Op
  private final case class Command(p: Programs.Program) extends Op {
    def label: String = s"program:${p.mix}"
    def group: String = "lang"
  }

  private var golden: Map[String, Golden.Entry] = Map.empty
  private var fns: Map[String, (SparkSession, String) => DataFrame] = Map.empty
  private var cmds: CommandPrograms = _
  private var pass: Seq[Op] = Nil
  private val answers = Seq.newBuilder[(Int, Programs.Program, CommandPrograms#Answer)]
  @volatile private var hygieneNs = 0L
  @volatile private var peakCached = 0L

  def setup(ctx: Ctx): Map[String, Double] = {
    golden = Golden.load(goldenPath)
    val reg = QueryGroups.registered.map(q => q.name -> q).toMap
    val missing = queries.filterNot(n => reg.contains(n) && golden.contains(n))
    require(missing.isEmpty, s"catalog queries not registered or without " +
      s"golden fingerprint: ${missing.mkString(", ")}")
    fns = queries.map(n => n -> reg(n).run).toMap
    cmds = new CommandPrograms(ctx)
    pass = queries.map(n => Query(n, QueryGroups.of(reg(n).run))) ++
      Programs.generate(ctx.seed, Programs.mixes.size).map(Command(_))
    // untimed warm pass, one lane per core, programs from other keys:
    // query-specific codegen and JIT move out of the timed window (the
    // repository's bench does the same)
    val t0 = System.nanoTime()
    val before = Common.persistentIds(ctx.spark)
    val warm = pass.collect { case q: Query => q } ++
      Programs.generate(ctx.seed ^ 0x5eedL, Programs.mixes.size).map(Command(_))
    Common.inParallel(warm)(op => runOne(ctx, op, "warm", clean = false))
    Common.hygiene(ctx.spark, before)
    Map("harness.warm_s" -> (System.nanoTime() - t0) / 1e9)
  }

  /** One op: its error (if any), row count and program answer. `clean`
    * drops what it cached afterwards; concurrent warm ops must not, since
    * they would drop each other's caches. */
  private def runOne(ctx: Ctx, op: Op, phase: String, clean: Boolean = true)
      : (OpResult, Option[CommandPrograms#Answer]) = {
    val spark = ctx.spark
    Probes.tag(spark, phase, op.group)
    val before = Common.persistentIds(spark)
    val t0 = System.nanoTime()
    var rows = 0L
    var answer = Option.empty[CommandPrograms#Answer]
    val error = try Trace.span("op", ctx.newOp()) {
      op match {
        case Query(name, group) =>
          val df = Trace.span(s"$group.build")(fns(name)(spark, ctx.dataDir))
          val fp = Trace.span(s"$group.action")(Fingerprint.of(df))
          rows = fp.rows
          val g = golden(name)
          if (g.matches(fp)) None
          else Some(s"fingerprint ${fp.render} != golden ${g.fp.render} (${g.check})")
        case Command(p) =>
          answer = Some(cmds.run(p))
          rows = answer.get._1.size
          None
      }
    } catch { case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    ctx.probes.foreach(p => peakCached = math.max(peakCached, p.cachedBytes))
    val h0 = System.nanoTime()
    if (clean) Common.hygiene(spark, before)
    if (phase == Probes.Timed) hygieneNs += System.nanoTime() - h0
    (OpResult(op.label, ms, error.map(e => s"${op.label}: $e"), rows), answer)
  }

  def timed(ctx: Ctx, deadlineNs: Long): Seq[OpResult] = {
    val rnd = new Random(ctx.seed)
    val out = Seq.newBuilder[OpResult]
    var i = 0
    while (System.nanoTime() < deadlineNs)
      (rnd.shuffle(pass) ++ rnd.shuffle(pass)).foreach { op =>
        val (res, answer) = runOne(ctx, op, Probes.Timed)
        (op, answer) match {
          case (Command(p), Some(a)) => answers += ((i, p, a))
          case _ =>
        }
        out += res
        i += 1
      }
    out.result()
  }

  override def referenceCheck(ctx: Ctx): Map[Int, String] =
    cmds.check(answers.result())

  override def layerMetrics(ops: Seq[OpResult]): Map[String, Double] = {
    val n = math.max(ops.size, 1)
    Map("harness.hygiene_ms" -> hygieneNs / 1e6 / n,
      "exec.cached_mb_peak" -> peakCached / (1024.0 * 1024.0))
  }
}
