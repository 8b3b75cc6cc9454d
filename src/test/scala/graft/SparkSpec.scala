package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite; cheap on local[*]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // managed tables (bucketing specs) land under target/, not the repo root
    .config("spark.sql.warehouse.dir", "target/spark-warehouse")
    .getOrCreate()

  private val testDirs = scala.collection.mutable.ArrayBuffer.empty[Path]
  private val suiteDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def newDir(prefix: String, owner: collection.mutable.Buffer[Path]) = {
    val dir = Files.createTempDirectory(prefix)
    owner += dir
    dir.toString
  }

  private def deleteAll(dirs: collection.mutable.Buffer[Path]): Unit = {
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    dirs.clear()
  }

  /** A new temp directory `prefix*`, deleted with everything under it
   *  when the running test ends. */
  def tempDir(prefix: String): String = newDir(prefix, testDirs)

  /** A new temp directory `prefix*` that the suite's tests share (a
   *  lazily written fixture), deleted when the suite ends. */
  def suiteDir(prefix: String): String = newDir(prefix, suiteDirs)

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally deleteAll(testDirs)

  /** `body`'s result and the number of Spark jobs it started, counted
   *  with a listener between two listener-bus drains. */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // keep the session alive across suites in the same JVM (sbt forks once)
    try deleteAll(suiteDirs) finally super.afterAll()
  }
}
