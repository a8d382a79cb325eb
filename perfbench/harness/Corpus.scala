package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Seeded hockey corpus in the schema `graft.hockey.FixtureGen` writes
  * (`results.csv` with the 25 results columns, `events.csv` with the 54
  * event columns), generated from the benchmark's `--seed`.
  *
  * Shape: `teams` teams play a circle-method round robin, `rounds` rounds
  * per season, over the three seasons 20112012..20132014, so the reference
  * temporal split always holds out 20132014. Each game gets shot attempts
  * drawn around the two teams' latent strengths (so the rolling features
  * carry a learnable signal) and is then padded with non-shot events
  * (zero Corsi/Fenwick/Shot/Goal, empty distance/angle/xG) up to
  * `eventsPerGame` rows, the density of the paper's sample data.
  *
  * Every count the pipeline derives depends on the shape alone, never on
  * the seed: games = 3 · rounds · teams / 2, game-team rows = 2 · games,
  * matchups = games, and the split is two seasons of games against one.
  */
object Corpus {

  case class Shape(teams: Int, rounds: Int, eventsPerGame: Int) {
    require(teams % 2 == 0 && teams >= 4, "an even number of teams, at least 4")
  }

  /** The paper's scale: 30 teams, 209 rounds, about 265 events a game
    * (1,327 rows over the sample's 5 games) — 9,405 games. */
  val Reference = Shape(teams = 30, rounds = 209, eventsPerGame = 265)

  /** The benchmark's scale: the same teams and density on a tenth of the
    * schedule, so that a `--fast` pass takes about 16 s on 2 cores. */
  val Bench = Shape(teams = 30, rounds = 21, eventsPerGame = 265)

  val TestSeason = 20132014
  private val Seasons = Seq(2011 -> 20112012, 2012 -> 20122013, 2013 -> TestSeason)
  private val PadEvents = Array("faceoff", "hit", "giveaway", "takeaway", "stoppage")
  private val dateFmt = DateTimeFormatter.ofPattern("M/d/yyyy")

  /** Three-letter codes outside the franchise alias table, so team-name
    * normalization maps each to itself. */
  def teamCode(i: Int): String = s"Z${('A' + i / 26).toChar}${('A' + i % 26).toChar}"

  private val resultsHeader = "Game Id,Type,Season,Date,Ev_Team,Is_Home,Goal," +
    "xG,G+/-,RW,OTW,SOW,SOL,OTL,RL,Win,Points,Favorite,American Odds," +
    "Decimal Odds,Market_Prob.,Log loss,OU,OU_American Odds,OU_Decimal Odds"
  private val eventsHeader = "GameID,Season,SeasonState,Venue,Period,GameTime," +
    "StrengthState,TypeCode,Event,x,y,Zone,Reason,ShotType,SecondaryReason," +
    "TypeCode2,PEN_Duration,EventTeam,Goalie_ID,Goalie,Player1_ID,Player1," +
    "Player2_ID,Player2,Player3_ID,Player3,Corsi,Fenwick,Shot,Goal," +
    "EventIndex,ShiftIndex,ScoreState,Home_Forwards_ID,Home_Forwards," +
    "Home_Defenders_ID,Home_Defenders,Home_Goalie_ID,Home_Goalie," +
    "Away_Forwards_ID,Away_Forwards,Away_Defenders_ID,Away_Defenders," +
    "Away_Goalie_ID,Away_Goalie,BoxID,BoxID_rev,BoxSize,ShotDistance," +
    "ShotAngle,Position,Shoots,xG_F,xG_S"

  private def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), "UTF-8"), 1 << 20)

  /** Writes `results.csv` and `events.csv` under `dir`. */
  def write(dir: Path, shape: Shape, seed: Long): Unit = {
    Files.createDirectories(dir)
    val rnd = new java.util.Random(seed)
    val n = shape.teams
    val strength = Array.tabulate(n)(i => 0.20 + 0.54 * i / (n - 1))
    val res = writer(dir.resolve("results.csv"))
    val ev = writer(dir.resolve("events.csv"))
    try {
      res.write(resultsHeader); res.write('\n')
      ev.write(eventsHeader); ev.write('\n')
      for ((year, season) <- Seasons) {
        val start = LocalDate.of(year, 10, 1)
        var gameIdx = 0
        for (round <- 0 until shape.rounds) {
          val date = start.plusDays(round.toLong).format(dateFmt)
          val rot = (1 until n).map(t => 1 + (t - 1 + round) % (n - 1))
          val order = 0 +: rot
          for (g <- 0 until n / 2) {
            val (a, b) = (order(g), order(n - 1 - g))
            val (home, away) = if (round % 2 == 0) (a, b) else (b, a)
            gameIdx += 1
            val gameId = year.toLong * 1000000L + 20000L + gameIdx
            game(rnd, res, ev, shape, gameId, season, date,
              home, away, strength(home), strength(away))
          }
        }
      }
    } finally { res.close(); ev.close() }
  }

  private def game(rnd: java.util.Random, res: BufferedWriter, ev: BufferedWriter,
      shape: Shape, gameId: Long, season: Int, date: String,
      home: Int, away: Int, sH: Double, sA: Double): Unit = {
    def goals(s: Double, opp: Double): Int =
      math.max(0, math.round(2.7 + 1.8 * (s - opp) + rnd.nextGaussian() * 1.3).toInt)
    var gH = goals(sH, sA)
    var gA = goals(sA, sH)
    if (gH == gA) {
      if (rnd.nextDouble() < 0.56 + 0.8 * (sH - sA)) gH += 1 else gA += 1
    }
    val loserPoint = rnd.nextDouble() < 0.15
    def result(team: Int, isHome: Int, gf: Int, ga: Int): Unit = {
      val win = if (gf > ga) 1 else 0
      val pts = if (win == 1) 2 else if (loserPoint) 1 else 0
      val xg = gf + rnd.nextGaussian() * 0.4
      res.write(f"$gameId,Reg,$season,$date,${teamCode(team)},$isHome,$gf," +
        f"$xg%.4f,${gf - ga},$win,0.0,0.0,0.0," +
        s"${if (win == 0 && loserPoint) "1.0" else "0.0"},${1 - win},$win," +
        s"$pts.0,,,,,,,,\n")
    }
    result(home, 1, gH, gA)
    result(away, 0, gA, gH)

    var idx = 0
    def row(team: Int, venue: String, event: String, flags: String,
        shot: String): Unit = {
      idx += 1
      val time = idx * 3600 / shape.eventsPerGame
      val period = 1 + math.min(time / 1200, 2)
      ev.write(s"$gameId,$season,regular,$venue,$period,$time,,506,$event," +
        s",,,,wrist,,,,${teamCode(team)},,,,,,,,,$flags,$gameId${"%04d".format(idx)}," +
        s"\\N,0,,,,,,,,,,,,,N02,N05,875.0,$shot,\n")
    }
    def attempts(team: Int, venue: String, s: Double, gf: Int): Unit = {
      val n = math.max(gf + 2, (14 + 18 * s + rnd.nextGaussian() * 3).round.toInt)
      for (e <- 0 until n) {
        val isGoal = e < gf
        val fenwick = isGoal || rnd.nextDouble() < 0.8
        val onNet = isGoal || (fenwick && rnd.nextDouble() < 0.75)
        val event =
          if (isGoal) "goal" else if (onNet) "shot-on-goal"
          else if (fenwick) "missed-shot" else "blocked-shot"
        val dist = math.max(5.0, 48.0 - 22.0 * s + rnd.nextGaussian() * 9.0)
        val angle = 12.0 + rnd.nextDouble() * 38.0
        val xg = math.max(0.005, 0.03 + 0.09 * s +
          (if (isGoal) 0.08 else 0.0) + rnd.nextGaussian() * 0.02)
        row(team, venue, event,
          s"1,${if (fenwick) 1 else 0},${if (onNet) 1 else 0},${if (isGoal) 1 else 0}",
          f"$dist%.2f,$angle%.2f,F,R,$xg%.5f")
      }
    }
    attempts(home, "Home", sH, gH)
    attempts(away, "Away", sA, gA)
    while (idx < shape.eventsPerGame) {
      val team = if (rnd.nextBoolean()) home else away
      row(team, if (team == home) "Home" else "Away",
        PadEvents(rnd.nextInt(PadEvents.length)), "0,0,0,0", ",,,,")
    }
  }
}
