package perfbench

/** Tests of the benchmark's pure helpers: percentiles, result digests,
  * job-to-module attribution and the model's generator contract. Run with
  * `python3 perfbench/run.py --selftest`; exits 1 on the first failure.
  */
object StatsTest {
  private var failures = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Exception => println(s"  threw $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $what")
    if (!passed) failures += 1
  }

  def main(args: Array[String]): Unit = {
    import Stats._

    check("percentile interpolates between closest ranks") {
      val xs = Seq(4.0, 1.0, 3.0, 2.0)
      percentile(xs, 0) == 1.0 && percentile(xs, 100) == 4.0 &&
        percentile(xs, 50) == 2.5 && percentile(xs, 75) == 3.25
    }
    check("percentile of one sample is that sample") {
      percentile(Seq(7.0), 50) == 7.0 && percentile(Seq(7.0), 75) == 7.0
    }
    check("percentile refuses an empty sample") {
      scala.util.Try(percentile(Nil, 50)).isFailure
    }

    check("digest ignores row order") {
      digest(Seq(Seq("a", 1.0), Seq("b", 2.0))) == digest(Seq(Seq("b", 2.0), Seq("a", 1.0)))
    }
    check("digest rounds doubles to 12 significant digits") {
      digest(Seq(Seq(0.1 + 0.2))) == digest(Seq(Seq(0.3))) &&
        digest(Seq(Seq(1.0))) != digest(Seq(Seq(1.0001)))
    }
    check("digest renders null and None alike and counts duplicates") {
      digest(Seq(Seq(null))) == digest(Seq(Seq(None))) &&
        digest(Seq(Seq("x"), Seq("x"))) != digest(Seq(Seq("x")))
    }

    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3456)",
      "graft.etl.CurrencyConverter$.distinctPairs(CurrencyConverter.scala:51)",
      "graft.etl.Pipeline$.runLake(Pipeline.scala:210)",
      "perfbench.Lake.commit(Lake.scala:69)").mkString("\n")
    check("a job belongs to the first engine frame's file") {
      moduleOf(site) == "etl.currency"
    }
    check("module names are the package and the file in snake case") {
      moduleOf("graft.etl.SnapshotLake$.mergeLocked(SnapshotLake.scala:900)") == "etl.snapshot_lake" &&
        moduleOf("  at graft.sources.LakeCatalog.loadTable(LakeCatalog.scala:120)") == "sources.lake_catalog"
    }
    check("a job no engine frame launched belongs to the benchmark") {
      moduleOf("perfbench.Reads$.query(Workloads.scala:200)\nscala.Option.map(Option.scala:1)") == "bench" &&
        moduleOf("") == "bench"
    }

    check("interval union counts overlaps once") {
      unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (4.0, 4.0))) == 4.0
    }

    val g = Gen(7, 12, 20)
    val m = new Model(g)
    check("generator is a pure function of the seed") {
      Gen(7, 12, 20).bar(3, 5, 2, 0) == g.bar(3, 5, 2, 0) && Gen(8, 12, 20).bar(3, 5, 2, 0) != g.bar(3, 5, 2, 0)
    }
    check("a tick re-delivers the previous day and adds one") {
      g.tickDays(1) == Seq(19, 20) && g.tickDays(3) == Seq(21, 22)
    }
    check("only re-delivered bars carry corrections, and some do") {
      val versions = for (i <- 0 until 12; h <- 0 until Gen.BarsPerDay; k <- 1 to 40)
        yield (k, g.tickVersion(k, i, 20 + k - 2, h), g.tickVersion(k, i, 20 + k - 1, h))
      versions.forall(_._3 == 0) && versions.exists(_._2 > 0) &&
        versions.forall { case (k, v, _) => v == 0 || v == k }
    }
    check("trading days skip weekends") {
      (0 until 30).map(g.date).forall(d => d.getDayOfWeek.getValue <= 5)
    }
    check("model: a corrected bar keeps its correction in later states") {
      val hit = (for (i <- 0 until 12; h <- 0 until Gen.BarsPerDay; k <- 1 to 40
        if g.tickVersion(k, i, 20 + k - 2, h) > 0) yield (i, 20 + k - 2, h, k)).head
      val (i, d, h, k) = hit
      m.version(i, d, h, k - 1) == 0 && m.version(i, d, h, k) == k && m.version(i, d, h, k + 5) == k
    }

    println(if (failures == 0) "all tests passed" else s"$failures test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
