package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.AsOfJoinStrategy

/** Guards the one-session rule: sessions come from [[GraftSession]],
  * and asking for one twice neither builds a second session nor
  * registers the extensions twice.
  */
class GraftSessionSpec extends AnyFunSuite with GraftTestSession {

  // split so this file does not match itself
  private val builderCall = "SparkSession" + ".builder"

  /** Files allowed to build a session, with their number of call sites:
    * GraftSession, and AsOfJoinSpec's deliberately unextended session. */
  private val allowed = Map(
    Paths.get("src/main/scala/graft/GraftSession.scala") -> 1,
    Paths.get("src/test/scala/graft/plans/AsOfJoinSpec.scala") -> 1)

  test("only GraftSession and AsOfJoinSpec's unextended case build a SparkSession") {
    val sites = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.map { (p: Path) =>
      p -> Files.readString(p).sliding(builderCall.length).count(_ == builderCall)
    }.filter(_._2 > 0).toMap
    assert(sites.nonEmpty, "the scan found no call site at all; wrong working directory?")
    assert(sites == allowed, s"SparkSession built outside GraftSession: $sites")
  }

  test("two GraftSession calls return one session with the extensions registered once") {
    val again = GraftSession(cores = 4)
    assert(again eq spark)
    val registry = spark.sessionState.functionRegistry
    assert(registry.listFunction().count(_ == FunctionIdentifier("polygon_centroid")) == 1)
    assert(spark.sessionState.planner.strategies.count(_ == AsOfJoinStrategy) == 1)
    assert(spark.sql("SELECT polygon_centroid(array(array(0d, 0d), array(2d, 0d), " +
      "array(2d, 2d), array(0d, 2d), array(0d, 0d)))").head().getSeq[Double](0) ==
      Seq(1.0, 1.0))
  }
}
