package perfbench

import java.io.{BufferedWriter, File, FileWriter}

/** Seeded input generators. They write plain files and never touch
  * Spark, so the program under test receives only the generated files.
  * Every value is a pure function of (seed, table, row, field): the same
  * seed gives byte-identical files, and a different seed salts every
  * choice, including which people and genres end up in the top-N sets.
  */
object Gen {

  /** splitmix64 finalizer. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long, stream: Long) {
    private val base = mix64(mix64(seed) ^ (stream * 0x632BE59BD9B4E019L))
    def bits(row: Long, field: Int): Long = mix64(base ^ mix64(row * 1021L + field))
    def below(row: Long, field: Int, n: Int): Int = java.lang.Math.floorMod(bits(row, field), n.toLong).toInt
    def unit(row: Long, field: Int): Double = (bits(row, field) >>> 11) * (1.0 / (1L << 53))
    def chance(row: Long, field: Int, p: Double): Boolean = unit(row, field) < p
  }

  final case class Written(rows: Long, bytes: Long)

  private final class Tsv(file: File, header: Seq[String]) {
    private val w = new BufferedWriter(new FileWriter(file), 1 << 16)
    var rows = 0L
    if (header.nonEmpty) w.write(header.mkString("", "\t", "\n"))
    def row(fields: Any*): Unit = {
      w.write(fields.map {
        case None | null => "\\N"
        case Some(v) => v.toString
        case v => v.toString
      }.mkString("", "\t", "\n"))
      rows += 1
    }
    def close(): Written = { w.close(); Written(rows, file.length()) }
  }

  // ---- IMDb-shaped dumps (the shapes of graft.imdb.ImdbSynth, with the
  // seed salting every choice and ratings that depend on the director,
  // genres and runtime, so the trained model has something to learn).

  private val Genres = Vector("Drama", "Comedy", "Action", "Thriller", "Documentary",
    "Horror", "Romance", "Sci-Fi", "Crime", "Adventure", "Animation", "Family",
    "Mystery", "Fantasy", "Biography", "History", "War", "Music", "Sport", "Western")
  private val TypeCdf = Vector("movie" -> 0.40, "short" -> 0.60, "tvMovie" -> 0.70,
    "tvShort" -> 0.75, "tvSeries" -> 0.90, "video" -> 1.0)
  private val Categories = Vector("actor", "actress", "writer", "composer", "editor",
    "director", "producer", "self", "cinematographer")
  private val Professions = Vector("actor", "actress", "writer", "producer", "director",
    "composer", "editor", "miscellaneous")
  private val Regions = Vector("US", "DE", "FR", "JP", "BR", "IN", "UA", "GB")

  def tconst(id: Long): String = f"tt$id%07d"
  def nconst(id: Long): String = f"nm$id%07d"

  /** Six `\N`-null TSV dumps with headers, as IMDb publishes them. */
  def imdb(dir: File, seed: Long, nTitles: Int, nPeople: Int): Map[String, Written] = {
    dir.mkdirs()
    val r = new Rng(seed, 1)
    def open(name: String, cols: String*) = name -> new Tsv(new File(dir, s"$name.tsv"), cols)
    val out = Map(
      open("title.basics", "tconst", "titleType", "primaryTitle", "originalTitle",
        "isAdult", "startYear", "endYear", "runtimeMinutes", "genres"),
      open("title.ratings", "tconst", "averageRating", "numVotes"),
      open("title.crew", "tconst", "directors", "writers"),
      open("title.akas", "titleId", "ordering", "title", "region", "language",
        "types", "attributes", "isOriginalTitle"),
      open("title.principals", "tconst", "ordering", "nconst", "category", "job", "characters"),
      open("name.basics", "nconst", "primaryName", "birthYear", "deathYear",
        "primaryProfession", "knownForTitles"))
    // Skewed person draw: a few prolific directors and writers.
    def person(t: Long, f: Int): Long = (nPeople * math.pow(r.unit(t, f), 1.6)).toLong
    def talent(p: Long): Double = 2.0 * r.unit(p + (1L << 40), 0) - 1.0
    val genreEffect = Genres.indices.map(g => r.unit(g + (1L << 41), 0) - 0.5)

    for (t <- 0L until nTitles) {
      val id = tconst(t)
      val u = r.unit(t, 1)
      val titleType = TypeCdf.find(u < _._2).get._1
      val year = if (r.chance(t, 2, 0.04)) None else Some(1990 + r.below(t, 3, 37))
      val runtime = if (r.chance(t, 4, 0.06)) None else Some(5 + r.below(t, 5, 200))
      val genres =
        if (r.chance(t, 6, 0.03)) Seq.empty
        else (0 until 1 + r.below(t, 7, 3)).map(k => r.below(t, 10 + k, Genres.size)).distinct
      out("title.basics").row(id, titleType, s"Title $seed-$t", s"Original $t",
        if (r.chance(t, 8, 0.05)) 1 else 0, year, None, runtime,
        if (genres.isEmpty) None else Some(genres.map(Genres).mkString(",")))

      val directors =
        if (r.chance(t, 20, 0.12)) Seq.empty
        else (0 until 1 + r.below(t, 21, 2)).map(k => person(t, 22 + k)).distinct
      val writers =
        if (r.chance(t, 25, 0.20)) Seq.empty
        else (0 until 1 + r.below(t, 26, 3)).map(k => person(t, 27 + k)).distinct
      if (!r.chance(t, 30, 0.10))
        out("title.crew").row(id,
          if (directors.isEmpty) None else Some(directors.map(nconst).mkString(",")),
          if (writers.isEmpty) None else Some(writers.map(nconst).mkString(",")))

      if (r.chance(t, 40, 0.70)) {
        val quality = 5.6 + 1.6 * directors.headOption.map(talent).getOrElse(0.0) +
          (if (genres.isEmpty) 0.0 else genres.map(genreEffect).sum / genres.size) +
          0.004 * (runtime.getOrElse(90) - 90) + 1.2 * (r.unit(t, 41) - 0.5)
        val rating = math.round(math.max(1.0, math.min(10.0, quality)) * 10) / 10.0
        val votes = 5 + math.pow(10.0, 4.0 * r.unit(t, 42)).toInt
        out("title.ratings").row(id, rating, votes)
      }

      for (k <- 1 to r.below(t, 50, 5))
        out("title.akas").row(id, k, s"Aka $t-$k", Regions(r.below(t, 50 + k, Regions.size)),
          None, None, None, if (k == 1) 1 else 0)
      for (k <- 1 to r.below(t, 60, 8))
        out("title.principals").row(id, k, nconst(person(t, 60 + k)),
          Categories(r.below(t, 70 + k, Categories.size)), None, None)
    }

    for (p <- 0L until nPeople) {
      val profs = (0 until 1 + r.below(p + (1L << 42), 1, 2))
        .map(k => Professions(r.below(p + (1L << 42), 2 + k, Professions.size))).distinct
      val known = (0 until 1 + r.below(p + (1L << 42), 5, 4))
        .map(k => tconst(r.below(p + (1L << 42), 6 + k, nTitles))).distinct
      out("name.basics").row(nconst(p), s"Person $p",
        if (r.chance(p + (1L << 42), 10, 0.33)) None else Some(1920 + r.below(p + (1L << 42), 11, 90)),
        if (r.chance(p + (1L << 42), 12, 0.10)) Some(1980 + r.below(p + (1L << 42), 13, 45)) else None,
        if (r.chance(p + (1L << 42), 14, 0.08)) None else Some(profs.mkString(",")),
        if (r.chance(p + (1L << 42), 15, 0.10)) None else Some(known.mkString(",")))
    }
    out.map { case (k, w) => k -> w.close() }
  }
}
