package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per JVM (sbt forks a
  * single test JVM); cheap to share, expensive to churn. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def fixture(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp dir, deleted with its contents after the spec's last
    * test. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  /** Minimal property-check harness over a scalacheck Gen (the offline
    * cache has scalacheck but not the scalatestplus bridge): evaluate
    * `f` over `n` deterministic samples. */
  def forAllSamples[A](gen: org.scalacheck.Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    val params = org.scalacheck.Gen.Parameters.default
    (0 until n).foreach { i =>
      gen(params, org.scalacheck.rng.Seed(i.toLong)).foreach(f)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
