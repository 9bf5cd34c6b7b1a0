package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Outcome, Status, TestSuite}

import graft.streaming.StateBackend

/** The session every spec runs on: [[GraftSession]] at `local[4]`, with
  * the bench's plan-affecting confs, so specs check the plans that get
  * measured. Suites share one forked JVM and therefore one session; a
  * spec that needs other values names them in `suiteConfs`, which are
  * set before each of its tests and restored after it, so no value
  * leaks into a later suite. A spec's scratch directories come from
  * `tempDir`, which deletes them when the suite ends.
  */
trait GraftTestSession extends TestSuite {

  protected lazy val spark: SparkSession = GraftTestSession.session()

  /** Runtime SQL confs scoped to each test of this suite. */
  protected def suiteConfs: Map[String, String] = Map.empty

  /** Runs `body` with `confs` set on the shared session, then restores
    * each key's previous value (or unsets it). */
  protected def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A new directory under `java.io.tmpdir`, deleted with its contents
    * when this suite ends. The state stores are closed first: a loaded
    * RocksDB provider's maintenance would otherwise write a snapshot
    * back into a deleted checkpoint. */
  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally {
      StateBackend.shutdown()
      tempDirs.asScala.foreach(d => FileUtils.deleteQuietly(d.toFile))
    }

  override protected def withFixture(test: NoArgTest): Outcome =
    if (suiteConfs.isEmpty) super.withFixture(test)
    else withConfs(suiteConfs.toSeq: _*)(super.withFixture(test))
}

object GraftTestSession {

  // one warehouse per JVM, outside the checkout: saveAsTable output
  // (ScaleSpec's bucketed tables) must not depend on the working dir.
  // It outlives every suite, so the JVM's exit deletes it.
  private lazy val warehouse = {
    val d = Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(d))
    d.toString
  }

  def session(): SparkSession =
    GraftSession(4, Map("spark.sql.warehouse.dir" -> warehouse))
}
