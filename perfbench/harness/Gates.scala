package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.ops._

/** `gates-sf0.01`: a fixed, family-stratified set of `SparkEntry.queries`
  * gates over the committed seed-42 sf0.01 corpus (`perfbench/corpus`),
  * listed with their recorded row counts in `perfbench/expected/gates.json`.
  *
  * Set-up, three times: build the fixture groups the set reads, through
  * `graft.Fixtures.all`, each time for a fresh alias of the corpus
  * directory (fixtures are memoized per directory). Then a check pass:
  * every gate's row count must match the recorded one; one more untimed
  * pass warms the JVM. The timed region
  * repeats passes in a seeded order; each gate runs its full plan into the
  * noop sink with `clearCache` after it, as `graft.Bench` does. A gate
  * that throws counts as failed and never as a time.
  *
  * With tracing on, traced and untraced passes alternate, starting with a
  * traced one. A traced gate's span has a plan child (building the
  * DataFrame and its executed plan) and an exec child (the noop write).
  */
object Gates {

  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "CoreQueries" -> CoreQueries.queries, "EventQueries" -> EventQueries.queries,
    "TextQueries" -> TextQueries.queries, "DedupQueries" -> DedupQueries.queries,
    "AnnQueries" -> AnnQueries.queries, "MultimodalQueries" -> MultimodalQueries.queries,
    "ExtendedQueries" -> ExtendedQueries.queries, "PipelineQueries" -> PipelineQueries.queries,
    "SourceQueries" -> SourceQueries.queries, "GraphQueries" -> GraphQueries.queries)

  def familyOf(gate: String): String =
    Families.collectFirst { case (f, qs) if qs.contains(gate) => f }
      .getOrElse(sys.error(s"$gate is in no graft.ops family"))

  def run(spark: SparkSession, a: Main.Args, trace: Trace, r: Main.Result): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val set = Expected.gates(a.expected)
    val queries = graft.SparkEntry.queries
    val groups = set.fixtureGroups.map { g =>
      g -> graft.Fixtures.all.toMap.getOrElse(g, sys.error(s"no fixture group $g"))
    }
    var dir = ""
    val groupSecs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    for (rep <- 1 to 3) {
      val alias = a.work.resolve(s"corpus-$rep")
      Files.createSymbolicLink(alias, a.corpus.toAbsolutePath)
      dir = alias.toString
      val (_, s) = Main.secs(trace.span("Fixtures.prebuild") {
        groups.foreach { case (g, build) =>
          val (_, gs) = Main.secs(trace.span(s"Fixtures.$g")(build(spark, dir)))
          groupSecs(g) = groupSecs.getOrElse(g, Seq.empty) :+ gs
        }
      })
      r.setupReps += s
    }
    groupSecs.foreach { case (g, xs) => r.counters(s"Fixtures.$g.s") = Stats.median(xs) }

    // check pass, outside the timed region and in the timed passes' own
    // form (full plan into the noop sink), so it also warms their code
    set.rows.foreach { case (g, want) =>
      r.attempt(g) {
        val rows = org.apache.spark.sql.Observation(s"rows-$g")
        noop(queries(g)(spark, dir).observe(rows, count(lit(1)).as("n")))
        spark.catalog.clearCache()
        val got = rows.get("n").asInstanceOf[Long]
        if (got == want) Nil else Seq(s"$g returned $got rows, expected $want")
      }
    }

    val order = new scala.util.Random(a.seed).shuffle(set.rows.map(_._1))
    def gate(g: String, traced: Boolean): Option[Double] = {
      var ok = false
      val t = System.nanoTime()
      r.attempt(g) {
        if (traced) {
          val f = familyOf(g)
          trace.span(s"gate.$g") {
            val df = trace.span(s"$f.plan") {
              val df = queries(g)(spark, dir)
              df.queryExecution.executedPlan
              df
            }
            trace.span(s"$f.exec")(noop(df))
          }
        } else noop(queries(g)(spark, dir))
        ok = true
        Nil
      }
      val s = (System.nanoTime() - t) / 1e9
      spark.catalog.clearCache()
      if (ok) Some(s) else None
    }

    // one more untimed pass: the first noop pass after the check still ran
    // about 10 % slow as the JIT caught up
    order.foreach(g => gate(g, traced = false))

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // with tracing on, a traced pass goes first: the warm-up drift still
    // left then counts against tracing, so the overhead errs high, not low
    var tracedTurn = a.trace
    var (plainRuns, tracedRuns) = (0, 0)
    while (elapsed < a.seconds || plainRuns == 0 || (a.trace && tracedRuns == 0)) {
      val traced = a.trace && tracedTurn
      val t = System.nanoTime()
      val ops = if (traced) trace.span("gates.pass")(order.map(g => g -> gate(g, true)))
        else order.map(g => g -> gate(g, false))
      val wall = (System.nanoTime() - t) / 1e9
      if (traced) r.tracedPasses += wall
      else r.passes += (wall -> ops)
      if (traced) tracedRuns += 1 else plainRuns += 1
      tracedTurn = !tracedTurn
    }
    r.retainedBytes = Main.retainedBytes(spark)
    r.counters("Fixtures.scratch_bytes") = graft.Scratch.totalBytes.toDouble
  }
}
