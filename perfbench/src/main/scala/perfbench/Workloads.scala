package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, NumericType}

import graft.imdb.{ImdbAnalysis, ImdbPipeline, ImdbReader}
import graft.ml.MlPipeline
import graft.queries.Catalog
import graft.Tables

/** Outcome of one operation: a pass, or one catalog query. */
final case class Op(name: String, error: Option[String])

/** One workload. `pass` makes the timed calls, each inside a span;
  * `check` then verifies the pass's outputs, untimed. Both run on the
  * benchmark's single client thread.
  */
trait Workload {
  /** Rows of input one pass reads. */
  def inputRows: Long
  /** One line per generated input: rows and bytes. */
  def inputs: Seq[String]
  /** Warm pass time on a 4-core host. With `--seconds` it fixes how many
    * passes a run times, so the count never depends on a clock.
    */
  def nominalPassS: Double
  /** The workload's first library call, made once as part of set-up. */
  def setUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, tr: Tracer, k: Int): Unit
  def check(spark: SparkSession, k: Int): Seq[Op]
  /** Output figures worth printing beside the timings. */
  def figures: Seq[(String, String)] = Nil
}

object Workload {
  /** Order-independent content hash of a frame: doubles rounded to 4
    * places (the oracle contract's rounding), columns in name order.
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val names = df.columns.sorted.toSeq
    val rounded = df.select(names.map { n =>
      df.schema(n).dataType match {
        case DoubleType | FloatType => round(col(n).cast("double"), 4).as(n)
        case _ => col(n)
      }
    }: _*)
    val row = rounded.agg(count(lit(1)), bit_xor(xxhash64(struct(names.map(col): _*)))).head()
    (row.getLong(0), if (row.isNullAt(1)) "null" else row.getLong(1).toString)
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}

/** The paper's `main.py` flow over IMDb-shaped TSV dumps. */
final class ImdbEtl(dir: File, work: File, seed: Long, nTitles: Int, nPeople: Int,
    expected: Expected) extends Workload {
  private val written = Gen.imdb(dir, seed, nTitles, nPeople)
  val inputRows: Long = written.values.map(_.rows).sum
  def inputs: Seq[String] = written.toSeq.sortBy(_._1).map { case (n, w) =>
    f"$n%-18s ${w.rows}%9d rows ${w.bytes}%11d bytes" }

  val nominalPassS: Double = 8.0
  def setUp(spark: SparkSession): Unit =
    ImdbReader.loadTables(spark, dir.getPath).titleRatings.count()

  private val key = s"imdb_etl/$nTitles/$seed"
  private var metrics: Option[(String, String)] = None
  private var firstDigest: Option[String] = None
  private def out(k: Int) = new File(work, s"imdb-out/pass-$k")

  def pass(spark: SparkSession, tr: Tracer, k: Int): Unit = {
    val (tables, dataset) = tr.span("imdb.generate_dataset") {
      val t = ImdbReader.loadTables(spark, dir.getPath)
      (t, ImdbPipeline.generateDataset(t))
    }
    tr.span("imdb.save_parquet")(ImdbReader.saveParquet(dataset, out(k).getPath))
    tr.span("imdb.trends") {
      ImdbAnalysis.trendsDataFrame(tables.titleBasics, tables.titleRatings).collect()
    }
    // The ML half reads the written parquet back, as main.py does.
    val (model, test, features) = tr.span("ml.train_gbt") {
      val ds = spark.read.parquet(out(k).getPath)
        .withColumn("label", MlPipeline.label(col("averageRating"), 6.0))
      val features = ds.schema.fields.collect {
        case f if f.dataType.isInstanceOf[NumericType] &&
          f.name != "averageRating" && f.name != "label" => f.name
      }.toSeq
      val (train, test) = MlPipeline.deterministicSplit(ds, "primaryTitle")
      (MlPipeline.trainGbt(train, features), test, features)
    }
    val row = tr.span("ml.evaluate") {
      MlPipeline.featureImportances(model, features, spark).collect()
      MlPipeline.evaluate(model, test, features).head()
    }
    metrics = Some(row.getAs[Double]("accuracy").toString -> row.getAs[Double]("auc").toString)
  }

  def check(spark: SparkSession, k: Int): Seq[Op] = {
    val (rows, hash) = Workload.contentHash(spark.read.parquet(out(k).getPath))
    val (acc, auc) = metrics.getOrElse(("missing", "missing"))
    val digest = s"rows=$rows hash=$hash test_accuracy=$acc test_auc=$auc"
    if (firstDigest.isEmpty) firstDigest = Some(digest)
    val errors = Seq(
      if (rows > 0) None else Some("written dataset is empty"),
      if (firstDigest.contains(digest)) None
      else Some(s"pass $k output differs from pass 1: $digest vs ${firstDigest.get}"),
      expected.check(key, "digest", digest))
    Workload.delete(out(k))
    Seq(Op("pass", errors.flatten.headOption))
  }

  override def figures: Seq[(String, String)] = metrics.toSeq.flatMap { case (acc, auc) =>
    Seq("test_accuracy" -> acc, "test_auc" -> auc) }
}

/** Short catalog queries over fixed star-schema tables, each forced
  * through a full-row hash so no projection is pruned.
  */
final class CatalogShort(data: File, seed: Long, names: Seq[String],
    expected: Expected) extends Workload {
  val order: Seq[String] = {
    val r = new Gen.Rng(seed, 3)
    names.zipWithIndex.sortBy { case (_, i) => r.bits(i, 0) }.map(_._1)
  }
  /** Rows of every table in the data directory, from parquet footers. */
  lazy val inputRows: Long = {
    val spark = SparkSession.active
    Option(data.listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).count()).sum
  }
  val nominalPassS: Double = 7.0
  def setUp(spark: SparkSession): Unit = {
    Catalog.queries.size
    Tables.documents(spark, data.getPath).count()
  }
  def inputs: Seq[String] = Seq(s"fixed tables in ${data.getName}: $inputRows rows",
    s"query order: ${order.mkString(" ")}")

  private var results = Map.empty[String, Either[String, String]]

  def pass(spark: SparkSession, tr: Tracer, k: Int): Unit =
    results = order.map { name =>
      name -> tr.span(s"queries.$name") {
        try {
          Catalog.clearMemos()
          val row = Catalog.queries(name)(spark, data.getPath)
            .selectExpr("bit_xor(xxhash64(struct(*)))").head()
          Right(if (row.isNullAt(0)) "null" else row.getLong(0).toString)
        } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
    }.toMap

  def check(spark: SparkSession, k: Int): Seq[Op] = order.map { name =>
    Op(name, results(name) match {
      case Left(err) => Some(err.take(300))
      case Right(h) => expected.check("catalog_short", name, h)
    })
  }

  /** Verified pairs ÷ MinHash-LSH candidate pairs over the documents
    * table, from the oracle-checked `dd15_lsh_recall`: its `recovered`
    * counts the candidates whose exact 3-shingle Jaccard clears 0.5.
    * Untimed, traced runs only; throws if the row differs from the one
    * recorded.
    */
  def lshVerifiedRatio(spark: SparkSession): Double = {
    val row = Catalog.queries("dd15_lsh_recall")(spark, data.getPath).head()
    val (candidates, recovered) = (row.getAs[Long]("candidates"), row.getAs[Long]("recovered"))
    expected.check("catalog_short", "dd15_lsh_recall", s"candidates=$candidates recovered=$recovered")
      .foreach(err => throw new IllegalStateException(err))
    if (candidates == 0) 0.0 else recovered.toDouble / candidates
  }
}
