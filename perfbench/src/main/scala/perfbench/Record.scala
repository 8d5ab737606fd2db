package perfbench

import java.io.File

/** Records the output digests that later runs are checked against:
  * one pass per seed in one session, digests written to expected.json.
  *
  *   perfbench.Record --workload imdb_etl --seeds 0-39 --root DIR [--scale tiny]
  *
  * Run it only at a commit whose outputs were checked independently
  * (README.md, "Output checks").
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val opt = Main.options(argv)
    val Array(from, to) = opt("seeds").split("-").map(_.toLong)
    val root = new File(opt("root")).getAbsoluteFile
    val work = Main.workDir(root, opt("workload"))
    val expected = new Expected(new File(root, "perfbench/expected.json"), record = true)
    val spark = Session.start(Main.Cores, work)
    try {
      val tracer = new Tracer(spark)
      for (seed <- from to to) {
        val w = Main.workload(opt("workload"), seed, opt("scale") == "tiny", root, work, expected)
        w.pass(spark, tracer, seed.toInt)
        w match {
          case c: CatalogShort => c.lshVerifiedRatio(spark)
          case _ =>
        }
        val ops = w.check(spark, seed.toInt)
        val failed = ops.filter(_.error.nonEmpty)
        require(failed.isEmpty, s"seed $seed: ${failed.mkString("; ")}")
        println(s"seed $seed recorded ${w.figures.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
      }
      expected.save()
    } finally spark.stop()
  }
}
