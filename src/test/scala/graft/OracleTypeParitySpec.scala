package graft

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Type-parity gate between every Spark query and its DuckDB oracle.
  *
  * The driver's correctness compare hashes values after an Arrow
  * conversion, where DuckDB's HUGEINT (the result of `SUM(BIGINT)`)
  * becomes a *double* — so an oracle that forgets `CAST(... AS BIGINT)`
  * renders `86.0` against Spark's `86` and hash-fails even though the
  * values are numerically identical (round 6 lost b40/m5/t15/t18 to
  * exactly this). Value-level checks can't see it at small SF; the
  * fix class is a TYPE check: resolve each oracle's result schema in
  * DuckDB (lazily — no data fetched) and assert every column lands in
  * the same rendering class (integral / float / decimal / string / …)
  * as the Spark side, and that the sorted column names agree.
  *
  * Runs only when python3 + the duckdb module are present (dev +
  * driver containers have them); cancels otherwise so `sbt test`
  * stays green in minimal environments.
  */
class OracleTypeParitySpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  /** Rendering class of a Spark type — two columns hash-compare cleanly
    * iff their classes match (the driver renders per class: integral →
    * bare int, float → repr(double), decimal → scaled string, …). */
  private def cls(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case FloatType | DoubleType                        => "float"
    case _: DecimalType                                => "decimal"
    case StringType                                    => "str"
    case BooleanType                                   => "bool"
    case DateType                                      => "date"
    case TimestampType | TimestampNTZType              => "ts"
    case BinaryType                                    => "bin"
    case ArrayType(e, _)                               => s"list(${cls(e)})"
    case s: StructType => s.fields.map(f => cls(f.dataType)).mkString("struct(", ",", ")")
    case MapType(k, v, _)                              => s"map(${cls(k)},${cls(v)})"
    case other                                         => other.simpleString
  }

  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  // Mirrors cls() for DuckDB's type names; the two MUST stay in sync —
  // HUGEINT is deliberately NOT "int": it arrives as double post-Arrow.
  private val pyChecker =
    """import json, re, sys
      |import duckdb
      |payload = json.load(open(sys.argv[1]))
      |con = duckdb.connect()
      |for t in ["region","nation","customer","supplier","part","orders","lineitem",
      |          "events","documents","embeddings"]:
      |    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '%s/{t}.parquet'" % sys.argv[2])
      |def cls(t):
      |    t = t.strip()
      |    if t.endswith("[]"): return "list(%s)" % cls(t[:-2])
      |    if t.startswith("STRUCT(") or t.startswith("MAP("): return t  # not emitted by any oracle today
      |    if t in ("TINYINT","SMALLINT","INTEGER","BIGINT"): return "int"
      |    if t in ("HUGEINT","UHUGEINT"): return "hugeint"
      |    if t in ("FLOAT","DOUBLE"): return "float"
      |    if t.startswith("DECIMAL"): return "decimal"
      |    if t == "VARCHAR": return "str"
      |    if t == "BOOLEAN": return "bool"
      |    if t == "DATE": return "date"
      |    if t.startswith("TIMESTAMP"): return "ts"
      |    if t == "BLOB": return "bin"
      |    return t
      |bad = 0
      |for e in payload:
      |    try:
      |        rel = con.sql(e["sql"])
      |        duck = {c: cls(str(t)) for c, t in zip(rel.columns, rel.types)}
      |    except Exception as ex:
      |        print("VIOLATION %s: oracle failed to bind: %s" % (e["name"], ex)); bad += 1; continue
      |    spark = e["cols"]
      |    if sorted(duck) != sorted(spark):
      |        print("VIOLATION %s: columns spark=%s duck=%s" % (e["name"], sorted(spark), sorted(duck)))
      |        bad += 1; continue
      |    for c, sc in spark.items():
      |        if duck[c] != sc:
      |            print("VIOLATION %s.%s: spark=%s duck=%s" % (e["name"], c, sc, duck[c])); bad += 1
      |print("PARITY_OK n=%d" % len(payload))
      |sys.exit(1 if bad else 0)
      |""".stripMargin

  private def duckdbAvailable: Boolean =
    scala.util.Try(Seq("python3", "-c", "import duckdb").! == 0).getOrElse(false)

  test("every oracle resolves to the Spark rendering class per column") {
    assume(duckdbAvailable, "python3+duckdb not on PATH; parity gate skipped")

    val entries =
      SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (name, sql) =>
        val schema = SparkEntry.queries(name)(spark, sf).schema
        val cols = schema.fields
          .map(f => s"${jq(f.name)}: ${jq(cls(f.dataType))}")
          .mkString("{", ",", "}")
        s"""{"name": ${jq(name)}, "sql": ${jq(sql)}, "cols": $cols}"""
      }
    val dir = tempDir("oracle_parity")
    val payload = Files.writeString(dir.resolve("payload.json"), entries.mkString("[", ",", "]"))
    val script = Files.writeString(dir.resolve("check.py"), pyChecker)

    val out = new StringBuilder
    val code = Seq("python3", script.toString, payload.toString, sf)
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(code == 0 && !out.toString.contains("VIOLATION"),
      s"oracle/Spark type parity violations:\n$out")
    assert(out.toString.contains("PARITY_OK"), s"checker did not complete:\n$out")
  }
}
