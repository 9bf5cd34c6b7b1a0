package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.{Outcome, TestSuite}

/** The session every spec runs on: [[GraftSession]] at `local[4]`, with
  * the bench's plan-affecting confs, so specs check the plans that get
  * measured. Suites share one forked JVM and therefore one session; a
  * spec that needs other values names them in `suiteConfs`, which are
  * set before each of its tests and restored after it, so no value
  * leaks into a later suite.
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

  override protected def withFixture(test: NoArgTest): Outcome =
    if (suiteConfs.isEmpty) super.withFixture(test)
    else withConfs(suiteConfs.toSeq: _*)(super.withFixture(test))
}

object GraftTestSession {

  // one warehouse per JVM, outside the checkout: saveAsTable output
  // (ScaleSpec's bucketed tables) must not depend on the working dir
  private lazy val warehouse = Files.createTempDirectory("graft-warehouse").toString

  def session(): SparkSession =
    GraftSession(4, Map("spark.sql.warehouse.dir" -> warehouse))
}
