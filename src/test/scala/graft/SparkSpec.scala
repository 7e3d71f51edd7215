package graft

import org.apache.spark.CachedRdds
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator tests. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark: SparkSession = SparkTestSession.session

  /** Ids of the RDDs the session has persisted or still holds blocks of. */
  def cachedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet ++ CachedRdds(spark.sparkContext)

  /** Whether `done` holds within `timeoutMs`, polled after each
    * `System.gc()`, the way Spark's ContextCleanerSuite waits for the
    * cleaner to drop what became unreachable. */
  def gcUntil(timeoutMs: Long = 30000L)(done: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = done
    while (!ok && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
      ok = done
    }
    ok
  }
}

object SparkTestSession {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
