package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev main (usage below). `profile` runs each query twice and prints
  * the [[QueryProbe]] record [[Bench]] publishes for each run (`--stages`:
  * every stage's counters too), then the [[LayerMetrics]] manifest of the
  * shared-layer builds the runs paid for. p1 runs in a fresh session with
  * the shared cache cleared, so it is cold: it builds every shared layer
  * and table reader it reads. p2 re-runs in that session, warm.
  * `plan` prints each formatted physical plan, or writes it to
  * `<dir>/<q>_<s>.txt`. Query names are checked before a session starts.
  */
object Dev {
  private val Usage =
    """usage: graft.Dev profile <sfDir> [--stages] <query>...
      |       graft.Dev plan <sfDir> [--out <dir> --suffix <s>] <query>...""".stripMargin

  private[graft] final case class Cmd(sub: String, dir: String, queries: Seq[String],
      stages: Boolean = false, out: Option[(String, String)] = None)

  /** The command, or why the arguments are refused. */
  private[graft] def parse(args: Seq[String]): Either[String, Cmd] = (args match {
    case Seq("profile", dir, rest @ _*) =>
      Right(Cmd("profile", dir, rest.filterNot(_ == "--stages"), stages = rest.contains("--stages")))
    case Seq("plan", dir, "--out", out, "--suffix", suffix, qs @ _*) =>
      Right(Cmd("plan", dir, qs, out = Some(out -> suffix)))
    case Seq("plan", dir, qs @ _*) => Right(Cmd("plan", dir, qs))
    case _ => Left("unknown subcommand or no sfDir")
  }).flatMap { c =>
    val unknown = c.queries.filterNot(SparkEntry.queries.contains)
    if (c.queries.isEmpty) Left("no query named")
    else if (unknown.nonEmpty) Left(s"unknown queries: ${unknown.mkString(" ")}")
    else Right(c)
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(why) =>
      System.err.println(s"graft.Dev: $why\n$Usage")
      sys.exit(2)
    case Right(cmd) =>
      val spark = Sessions.local("graft-dev")
      val ok = try (if (cmd.sub == "profile") profile(spark, cmd) else { plan(spark, cmd); true })
        finally spark.stop()
      if (!ok) sys.exit(1)
  }

  /** Whether every run succeeded. */
  private def profile(spark: SparkSession, p: Cmd): Boolean = {
    // codegen, shuffle machinery: not charged to the first query
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val probe = new QueryProbe(spark)
    var session = spark
    val runs = for (q <- p.queries; pass <- 1 to 2) yield {
      if (pass == 1) { spark.catalog.clearCache(); session = spark.newSession() }
      val r = probe.run(q, (_, d) => SparkEntry.queries(q)(session, d), p.dir)
      println(s"PROBE $q p$pass ${r.fields.map { case (k, v) => s"$k=$v" }.mkString(" ")}" +
        r.error.fold("")(e => s" error=$e"))
      if (p.stages) r.stages.foreach { s =>
        println(f"STAGE ${s.id}%5d tasks=${s.tasks}%4d run_ms=${s.runMs}%6d deser_ms=${s.deserMs}%6d " +
          f"gc_ms=${s.gcMs}%5d shuffle_w=${s.shuffleWriteBytes}%10d | ${s.name.take(90)}")
      }
      r
    }
    probe.close()
    LayerMetrics.snapshot.foreach { case (k, (b, n, r)) =>
      println(f"LAYER $k build=$b%.3f s builds=$n reuses=$r")
    }
    runs.forall(_.ok)
  }

  private def plan(spark: SparkSession, p: Cmd): Unit = p.queries.foreach { q =>
    val txt = SparkEntry.queries(q)(spark, p.dir).queryExecution.explainString(FormattedMode)
    p.out match {
      case Some((d, suffix)) =>
        val f = Files.createDirectories(Paths.get(d)).resolve(s"${q}_$suffix.txt")
        Files.writeString(f, txt)
        println(s"PLAN wrote $f")
      case None => println(s"===== $q =====\n$txt")
    }
  }
}
