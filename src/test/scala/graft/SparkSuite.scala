package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — getOrCreate
  * returns the same instance, so suites don't thrash executors).
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  def sf001 = "/root/testdata/sf0.001"

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh temp dir named `prefix…`, deleted with everything in it once
    * the suite has run.
    */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach { dir =>
      if (Files.exists(dir)) {
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    } finally super.afterAll()

  /** Spark jobs this thread started while `body` ran. A listener records
    * the jobs tagged with this call's local property (jobs of other
    * threads carry none); a marker job after `body` proves every earlier
    * event has been delivered (the listener bus keeps order).
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"probe-${System.nanoTime()}"
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.probe")))
          .filter(_.startsWith(tag)).foreach(started.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.probe", tag)
      val out = try body finally sc.setLocalProperty("graft.test.probe", null)
      sc.setLocalProperty("graft.test.probe", s"$tag-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.probe", null)
      var jobs = 0
      var next = started.poll(60, TimeUnit.SECONDS)
      while (next == tag) { jobs += 1; next = started.poll(60, TimeUnit.SECONDS) }
      assert(next == s"$tag-marker", "the marker job never reached the listener")
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Tables.tune(s)
  }
}
