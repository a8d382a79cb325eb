package perfbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.hockey.{Evaluation, Experiment, Models, Pipeline}

/** `hockey-fast`: the paper's experiment (`Experiment.run` with `--fast`)
  * on a seeded corpus of [[Corpus.Bench]] shape.
  *
  * Set-up, five times (it takes about half a second): write the corpus. Then one untimed warm-up pass.
  * Untraced, the timed region repeats `Experiment.run` until the run's
  * seconds are spent; each pass is split into its ETL phase (up to the
  * run's own `Train = …` line) and one phase per model (from its
  * `Training …` line to its `fit+eval` line), timestamped from outside.
  *
  * With tracing on, traced and untraced passes alternate, starting with a
  * traced one. A traced pass calls the same layers one by one — each ETL
  * step's output is persisted and counted inside its span so its jobs,
  * shuffle and spill land there — then fits and evaluates each model and
  * computes the baselines.
  */
object Hockey {

  /** The `--fast` config `Experiment.run` builds inline; the traced pass
    * needs it by value. A drift shows up as traced scores leaving the
    * untraced ones. */
  val Fast = Models.ModelConfig(rfNumTrees = 10, rfMaxDepth = 4, lrMaxIter = 20,
    gbtMaxIter = 5, gbtMaxDepth = 3, mlpMaxIter = 20)
  val ModelKeys = Seq("rf", "lr", "gbt", "mlp")
  val ModelNames = Map("Random Forest" -> "rf", "Logistic Regression" -> "lr",
    "Gradient Boosted Trees" -> "gbt", "Multilayer Perceptron" -> "mlp")

  /** A line sink that stamps each line with the time it was printed. */
  final class Stamped extends OutputStream {
    val lines = scala.collection.mutable.ArrayBuffer.empty[(Double, String)]
    private val buf = new ByteArrayOutputStream
    def write(b: Int): Unit =
      if (b == '\n') {
        lines += (System.nanoTime() / 1e9 -> buf.toString("UTF-8"))
        buf.reset()
      } else buf.write(b)
  }

  def run(spark: SparkSession, a: Main.Args, trace: Trace, r: Main.Result): Unit = {
    val dir = a.work.resolve("hockey")
    val shape = Corpus.Bench
    for (_ <- 1 to 5) {
      r.setupReps += Main.secs(Corpus.write(dir, shape, a.seed))._2
    }
    r.counters("setup.corpus_s") = Stats.median(r.setupReps.toSeq)
    val opts = Experiment.Opts(dir.resolve("events.csv").toString,
      dir.resolve("results.csv").toString, fast = true)
    val expected = Expected.hockey(a.expected, shape, a.seed)

    var reference: Option[Experiment.RunReport] = None
    def checked(what: String)(report: => Experiment.RunReport): Unit =
      r.attempt(what) {
        val rep = report
        val errs = Expected.checkHockey(rep, expected, reference)
        if (reference.isEmpty && errs.isEmpty) {
          reference = Some(rep)
          rep.metrics.foreach { case (name, m) =>
            r.counters(s"models.${ModelNames(name)}.accuracy") = m.accuracy
            r.counters(s"models.${ModelNames(name)}.auc") = m.auc
          }
        }
        errs
      }

    checked("warm-up pass")(untraced(spark, opts)._1)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // with tracing on, a traced pass goes first: the warm-up drift still
    // left then counts against tracing, so the overhead errs high, not low
    var tracedTurn = a.trace
    var (plainRuns, tracedRuns) = (0, 0)
    while (elapsed < a.seconds || plainRuns == 0 || (a.trace && tracedRuns == 0)) {
      spark.catalog.clearCache()
      if (a.trace && tracedTurn) {
        val t = System.nanoTime()
        checked("traced pass")(traced(spark, opts, trace, r))
        r.tracedPasses += (System.nanoTime() - t) / 1e9
      } else {
        checked("pass") {
          val (rep, phases, wall) = untraced(spark, opts)
          r.passes += (wall -> phases.map { case (n, s) => n -> Some(s) })
          rep
        }
      }
      if (a.trace && tracedTurn) tracedRuns += 1 else plainRuns += 1
      tracedTurn = !tracedTurn
    }
    r.retainedBytes = Main.retainedBytes(spark)
    spark.catalog.clearCache()
  }

  /** One `Experiment.run` with its console lines timestamped; returns the
    * report, the phases (etl + one per model) and the pass's wall time. */
  def untraced(spark: SparkSession, opts: Experiment.Opts)
      : (Experiment.RunReport, Seq[(String, Double)], Double) = {
    val sink = new Stamped
    val out = new PrintStream(sink, true, "UTF-8")
    val start = System.nanoTime() / 1e9
    val rep = Console.withOut(out)(Experiment.run(spark, opts))
    out.flush()
    val wall = System.nanoTime() / 1e9 - start
    val lines = sink.lines.toSeq
    def at(p: String => Boolean): Double =
      lines.find(l => p(l._2)).map(_._1).getOrElse(sys.error("missing line"))
    val etl = at(_.startsWith("Train = ")) - start
    val models = lines.zipWithIndex.collect {
      case ((t, l), i) if l.startsWith("Training ") =>
        val name = ModelNames(l.stripPrefix("Training ").stripSuffix("..."))
        val end = lines.drop(i).find(_._2.startsWith("fit+eval:"))
          .getOrElse(sys.error(s"no fit+eval line for $name"))._1
        name -> (end - t)
    }
    (rep, ("etl" -> etl) +: models, wall)
  }

  /** The same experiment, layer by layer, each call inside a span. */
  def traced(spark: SparkSession, opts: Experiment.Opts, trace: Trace,
      r: Main.Result): Experiment.RunReport = trace.span("hockey.pass") {
    def pinned(name: String)(df: => DataFrame): (DataFrame, Long) =
      trace.span(name) {
        val d = df.persist(StorageLevel.MEMORY_AND_DISK)
        (d, d.count())
      }
    val (results, gameTeamRows) = pinned("Pipeline.loadResults")(
      Pipeline.loadResults(spark, opts.results))
    val eventRows = trace.span("Pipeline.loadEvents")(
      Pipeline.loadEvents(spark, opts.events).count())
    r.counters("Pipeline.loadEvents.rows") = eventRows.toDouble
    val (agg, _) = pinned("Pipeline.aggregateEvents")(
      Pipeline.aggregateEvents(Pipeline.loadEvents(spark, opts.events)))
    val (game, _) = pinned("Pipeline.gameData")(Pipeline.gameData(results, agg))
    val (featured, _) = pinned("Pipeline.withRollingFeatures")(
      Pipeline.withRollingFeatures(game))
    val (matchups, nMatchups) = pinned("Pipeline.matchups")(Pipeline.matchups(featured))
    val (train, test, testSeason, nTrain, nTest) =
      trace.span("Pipeline.temporalSplit") {
        val (tr, te, season) = Pipeline.temporalSplit(matchups)
        val train = Pipeline.withBinaryLabel(Pipeline.castFeatures(tr)).cache()
        val test = Pipeline.withBinaryLabel(Pipeline.castFeatures(te)).cache()
        (train, test, season, train.count(), test.count())
      }
    val builders = Map("rf" -> Models.randomForest _,
      "lr" -> Models.logisticRegression _, "gbt" -> Models.gbt _, "mlp" -> Models.mlp _)
    val metrics = ModelKeys.map { key =>
      trace.span(s"Models.$key") {
        val model = trace.span(s"Models.$key.fit")(builders(key)(Fast).fit(train))
        val m = trace.span("Evaluation.evaluate")(
          Evaluation.evaluate(model.transform(test)))
        ModelNames.collectFirst { case (n, k) if k == key => n }.get -> m
      }
    }.toMap
    val base = trace.span("Evaluation.baselines")(Evaluation.baselines(test))
    Experiment.RunReport(gameTeamRows, nMatchups, nTrain, nTest, testSeason,
      metrics, base)
  }
}
