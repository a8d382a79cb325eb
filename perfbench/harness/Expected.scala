package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.hockey.Experiment

/** The recorded outputs the benchmark checks against, read from
  * `perfbench/expected/`. */
object Expected {

  private def read(p: Path): JsonNode = new ObjectMapper().readTree(p.toFile)

  /** Accuracy and AUC may drift this far from a recorded value. Data
    * layout alone moves them: going from 4 to 2 shuffle partitions, or
    * persisting the ETL steps as a traced pass does, moved MLP accuracy by
    * 0.02 on the 315 test rows. A broken feature costs far more. */
  val ModelTolerance = 0.05

  /** The recorded counts, and (accuracy, auc) per model key when `seed`
    * has a record. */
  case class HockeyRecord(counts: Map[String, Long], models: Map[String, (Double, Double)])

  def hockey(dir: Path, shape: Corpus.Shape, seed: Long): HockeyRecord = {
    val root = read(dir.resolve("hockey.json"))
    val s = root.get("shape")
    require(s.get("teams").asInt == shape.teams && s.get("rounds").asInt == shape.rounds &&
      s.get("events_per_game").asInt == shape.eventsPerGame,
      "perfbench/expected/hockey.json records another corpus shape")
    val counts = root.get("counts").fields.asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val models = Option(root.get("models").get(seed.toString)).map { m =>
      m.fields.asScala.map { e =>
        e.getKey -> (e.getValue.get("accuracy").asDouble, e.getValue.get("auc").asDouble)
      }.toMap
    }.getOrElse(Map.empty)
    HockeyRecord(counts, models)
  }

  /** Problems with one experiment report: the counts must match the
    * recorded ones exactly, every model must score, and accuracy and AUC
    * must stay within [[ModelTolerance]] of the recorded values and of the
    * run's first passing report. */
  def checkHockey(rep: Experiment.RunReport, recorded: HockeyRecord,
      first: Option[Experiment.RunReport]): Seq[String] = {
    val got = Map("game_team_rows" -> rep.gameTeamRows, "matchups" -> rep.matchups,
      "train_rows" -> rep.trainRows, "test_rows" -> rep.testRows,
      "test_season" -> rep.testSeason.toLong)
    val countErrs = got.toSeq.sortBy(_._1).collect {
      case (n, v) if !recorded.counts.get(n).contains(v) =>
        s"$n = $v, recorded ${recorded.counts.getOrElse(n, "nothing")}"
    }
    val byKey = rep.metrics.map { case (name, m) => Hockey.ModelNames.getOrElse(name, name) -> m }
    val modelErrs = Hockey.ModelKeys.flatMap { k =>
      byKey.get(k) match {
        case None => Seq(s"$k: no metrics")
        case Some(m) =>
          val want = recorded.models.get(k).toSeq.map(v => ("recorded", v._1, v._2)) ++
            first.flatMap(f => f.metrics.collectFirst {
              case (n, fm) if Hockey.ModelNames.get(n).contains(k) => ("first pass", fm.accuracy, fm.auc)
            }).toSeq
          val range =
            if (m.auc >= 0 && m.auc <= 1 && m.accuracy >= 0 && m.accuracy <= 1) Nil
            else Seq(s"$k: accuracy ${m.accuracy} / auc ${m.auc} out of range")
          range ++ want.flatMap { case (what, acc, auc) =>
            if (math.abs(m.accuracy - acc) <= ModelTolerance &&
                math.abs(m.auc - auc) <= ModelTolerance) Nil
            else Seq(f"$k: accuracy ${m.accuracy}%.4f auc ${m.auc}%.4f vs $what $acc%.4f $auc%.4f")
          }
      }
    }
    countErrs ++ modelErrs
  }

  /** The gate set, each gate with its recorded row count, and the fixture
    * groups it reads. */
  case class GateSet(rows: Seq[(String, Long)], fixtureGroups: Seq[String])

  def gates(dir: Path): GateSet = {
    val root = read(dir.resolve("gates.json"))
    GateSet(
      root.get("rows").fields.asScala.map(e => e.getKey -> e.getValue.asLong).toSeq,
      root.get("fixture_groups").elements.asScala.map(_.asText).toSeq)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    require(s.nonEmpty, "median of nothing")
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
