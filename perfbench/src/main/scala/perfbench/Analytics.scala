package perfbench

import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.queries.SharedRelation

/** `analytics_mix`: a closed loop of passes over the short (B1-B12) and
  * heavy query sets. Every pass drops the session's shared relations
  * and builds every query's DataFrame afresh from its SparkEntry
  * builder before `collect()`, so each timed run executes all of its
  * stages. The order within each set is fixed per seed by run.py. */
object Analytics {
  private final case class QueryRun(build: Double, wall: Double, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType, returnedMs: Long)

  /** Order-free result checksum: row count and the sum of row hashes. */
  private def checksum(rows: Array[Row]): (Int, Long) =
    (rows.length, rows.iterator.map(r => MurmurHash3.stringHash(r.toString).toLong).sum)

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val sfDir = ctx.cfg.path("sf_dir").asText()
    def names(k: String) = ctx.cfg.path(k).elements().asScala.map(_.asText()).toSeq
    val short = names("short")
    val heavy = names("heavy")
    val builders = SparkEntry.queries

    def query(name: String, pass: String): QueryRun = {
      val g = s"$pass/$name"
      sc.setJobGroup(g, g)
      val t0 = System.nanoTime()
      val df = builders(name)(spark, sfDir)
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      System.err.println(f"[perfbench] $pass $name build ${(t1 - t0) / 1e9}%.3f s, total ${(t2 - t0) / 1e9}%.3f s")
      QueryRun((t1 - t0) / 1e9, (t2 - t0) / 1e9, rows, df.schema, System.currentTimeMillis())
    }

    /** One pass: the short set, then the heavy set. */
    def pass(p: String, traced: Boolean): mutable.LinkedHashMap[String, QueryRun] = {
      SharedRelation.releaseAll(spark)
      val out = mutable.LinkedHashMap.empty[String, QueryRun]
      for ((set, qs) <- Seq("short" -> short, "heavy" -> heavy)) {
        if (traced) ctx.trace.span(set, p) {
          qs.foreach(n => out(n) = ctx.trace.span(s"query.$n", p) { query(n, p) })
        } else qs.foreach(n => out(n) = query(n, p))
      }
      out
    }

    // The warm-up pass is every query's first run: the re-execution
    // guard's baseline, the checksum baseline and the oracle's input.
    val first = pass("warmup", traced = false)
    ctx.result.put("setup_s", ctx.sinceJvmStart)
    ctx.drain()
    val baseline = first.map { case (n, r) =>
      val c = ctx.listener.group(s"warmup/$n")
      n -> (c.stages, c.tasks, checksum(r.rows))
    }

    val passes = new java.util.ArrayList[java.util.Map[String, Any]]()
    val perQuery = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val untracedWalls, tracedWalls, tails, builds = ArrayBuffer.empty[Double]
    val phases = if (ctx.traced) Some(Phases.register(spark)) else None
    val t0 = System.nanoTime()
    var i = 0
    while (i < ctx.minPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      // traced runs alternate untraced and traced passes
      val traced = ctx.traced && i % 2 == 1
      val p = s"p$i"
      val startMs = System.currentTimeMillis()
      val runs = pass(p, traced)
      if (traced) phases.foreach(_.window(startMs, System.currentTimeMillis()))
      ctx.drain()
      var shortS, heavyS = 0.0
      runs.foreach { case (n, r) =>
        if (short.contains(n)) shortS += r.wall else heavyS += r.wall
        val (stages0, tasks0, sum0) = baseline(n)
        val c = ctx.listener.group(s"$p/$n")
        ctx.attempted += 1
        if (c.stages < stages0 || c.tasks < tasks0)
          ctx.fail(1, s"$p/$n re-execution guard: ${c.stages} stages/${c.tasks} tasks " +
            s"< first run's $stages0/$tasks0")
        else if (checksum(r.rows) != sum0)
          ctx.fail(1, s"$p/$n checksum differs from the first run")
        if (traced) {
          perQuery.getOrElseUpdate(n, ArrayBuffer.empty) += r.wall
          tails += (r.returnedMs - c.lastJobEndMs) / 1e3
        }
      }
      if (traced) {
        tracedWalls += shortS + heavyS
        builds += runs.values.map(_.build).sum
      } else untracedWalls += shortS + heavyS
      val rec = new JMap[String, Any]()
      rec.put("pass", p); rec.put("traced", traced)
      rec.put("short_s", shortS); rec.put("heavy_s", heavyS)
      val walls = new JMap[String, Double]()
      runs.foreach { case (n, r) => walls.put(n, r.wall) }
      rec.put("walls", walls)
      passes.add(rec)
      i += 1
    }
    ctx.result.put("passes", passes)

    if (ctx.traced) {
      val l = ctx.layer
      val n = tracedWalls.size
      l.put("query.build_s", Main.median(builds.toSeq))
      phases.foreach(_.layer(l))
      perQuery.foreach { case (q, ws) => l.put(s"query.${q}_s", Main.median(ws.toSeq)) }
      Exec.layer(ctx, n, g => g.startsWith("p") &&
        g.stripPrefix("p").takeWhile(_.isDigit).toIntOption.exists(_ % 2 == 1), tails.toSeq)
      l.put("trace.overhead_share",
        Main.median(tracedWalls.toSeq) / Main.median(untracedWalls.toSeq) - 1)
    }

    // Oracle input: the first run's rows as parquet, plus the oracle SQL.
    val out = ctx.cfg.path("oracle_dir").asText()
    first.foreach { case (n, r) =>
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$n")
    }
    val sql = new JMap[String, String]()
    first.keys.foreach(n => SparkEntry.oracleSql.get(n).foreach(s => sql.put(n, s)))
    ctx.result.put("oracle_sql", sql)
  }
}
