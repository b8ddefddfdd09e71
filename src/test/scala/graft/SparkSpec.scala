package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SessionScoped

/** Shared local SparkSession for specs (one per suite, lazily created),
  * plus temp directories that are deleted when the suite ends. */
trait SparkSpec extends BeforeAndAfterAll { self: AnyFunSuite =>
  lazy val spark: SparkSession = GraftSession("local[4]")

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** A fresh `graft_<prefix>*` temp directory, deleted in `afterAll`. */
  def tempDir(prefix: String): String = {
    val d = SessionScoped.tempDir(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => SessionScoped.deleteDir(d))
    finally super.afterAll()
}
