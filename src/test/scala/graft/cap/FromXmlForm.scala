package graft.cap

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `from_xml` form of the CAP alert parse: Spark's XML reader over a
  * string-leaved CAP schema plus a 25-column projection. It is the
  * differential reference for [[CapXml.decode]], which reads the same
  * rules in one cursor pass; only the specs run it. */
object FromXmlForm {

  // ---------------------------------------------------------------
  // P4 schema — all leaves forced to StringType so from_xml cannot
  // numeric-coerce text nodes (fast-xml-parser quirk parity,
  // SURVEY.md §7 risk register); polygon/parameter declared as arrays
  // so the scalar-or-array XML quirk normalizes at parse time
  // (task.ts:458, 647).
  // ---------------------------------------------------------------
  val parameterType: ArrayType = ArrayType(StructType(Seq(
    StructField("valueName", StringType),
    StructField("value", StringType))))

  /** One <info> element. Declared separately because `info` itself is an
    * ARRAY in the alert schema: fast-xml-parser yields an array for
    * repeated <info> elements, and the reference then reads `info.x` off
    * the ARRAY — undefined → '' for every field (task.ts:427-453). A
    * struct schema here would silently keep the LAST <info> instead. */
  val infoType: StructType = StructType(Seq(
    StructField("category", StringType),
    StructField("event", StringType),
    StructField("urgency", StringType),
    StructField("severity", StringType),
    StructField("certainty", StringType),
    StructField("senderName", StringType),
    StructField("headline", StringType),
    StructField("description", StringType),
    StructField("instruction", StringType),
    StructField("responseType", StringType),
    StructField("onset", StringType),
    StructField("expires", StringType),
    StructField("web", StringType),
    StructField("area", StructType(Seq(
      StructField("areaDesc", StringType),
      StructField("polygon", ArrayType(StringType)),
      StructField("circle", StringType)))),
    StructField("parameter", parameterType)))

  val alertSchema: StructType = StructType(Seq(
    StructField("identifier", StringType),
    StructField("sender", StringType),
    StructField("sent", StringType),
    StructField("status", StringType),
    StructField("msgType", StringType),
    StructField("scope", StringType),
    StructField("info", ArrayType(infoType)),
    StructField("Signature", StructType(Seq(
      StructField("KeyInfo", StructType(Seq(
        StructField("X509Data", StructType(Seq(
          StructField("X509Certificate", StringType))))))))))))

  // ---------------------------------------------------------------
  // P4-P7: XML parse + projection + '' defaulting + validity filter +
  // colour-code priority — all as declarative column expressions so
  // Catalyst prunes/pushes around them.
  // ---------------------------------------------------------------
  def apply(xml: Dataset[String]): Dataset[CapAlert] = {
    val spark = xml.sparkSession
    import spark.implicits._

    def s(c: Column): Column = coalesce(c, lit(""))

    val a = from_xml(col("xml"), alertSchema)
    // JS semantics over the repeated-<info> quirk (task.ts:427-453): with
    // exactly one <info>, fields project from it; with several, the
    // reference reads `info.x` off the ARRAY → undefined → '' for every
    // info-derived field (empty area → NZ-center fallback point). The
    // Signature branch is independent of info and still applies.
    val info = when(size(col("a.info")) === 1, element_at(col("a.info"), 1))
      .otherwise(lit(null).cast(infoType))
    val params = coalesce(info.getField("parameter"), lit(null).cast(parameterType))
    // P7 (task.ts:456-476): a present ColourCodeHex param wins even when
    // its value is empty/null — no fallthrough to ColourCode.
    val hexParam = get(filter(params, p => p("valueName") === "ColourCodeHex"), lit(0))
    val namedParam = get(filter(params, p => p("valueName") === "ColourCode"), lit(0))
    val colorCode = when(hexParam.isNotNull, s(hexParam("value")))
      .otherwise(s(try_element_at(typedLit(graft.functions.Lookups.ColorMap), namedParam("value"))))

    xml.toDF("xml")
      .select(a.as("a"))
      .select(
        s(col("a.identifier")).as("identifier"),
        s(col("a.sender")).as("sender"),
        s(col("a.sent")).as("sent"),
        s(col("a.status")).as("status"),
        s(col("a.msgType")).as("msgType"),
        s(col("a.scope")).as("scope"),
        // P6 `no info` check (task.ts:427-430): fast-xml-parser parses
        // an EMPTY <info/> as '' (falsy → dropped), but from_xml yields
        // a single all-null struct — detect it via to_json = "{}" so
        // empty-info alerts drop here like the reference.
        (col("a.info").isNotNull &&
          !(size(col("a.info")) === 1 &&
            to_json(element_at(col("a.info"), 1)) === "{}")).as("hasInfo"),
        s(info.getField("category")).as("category"),
        s(info.getField("event")).as("event"),
        s(info.getField("urgency")).as("urgency"),
        s(info.getField("severity")).as("severity"),
        s(info.getField("certainty")).as("certainty"),
        s(info.getField("senderName")).as("senderName"),
        s(info.getField("headline")).as("headline"),
        s(info.getField("description")).as("description"),
        s(info.getField("instruction")).as("instruction"),
        s(info.getField("responseType")).as("responseType"),
        s(info.getField("onset")).as("onset"),
        s(info.getField("expires")).as("expires"),
        s(info.getField("web")).as("web"),
        s(info.getField("area").getField("areaDesc")).as("areaDesc"),
        transform(
          coalesce(info.getField("area").getField("polygon"),
            array().cast(ArrayType(StringType))),
          p => coalesce(p, lit(""))).as("polygon"),
        s(info.getField("area").getField("circle")).as("circle"),
        colorCode.as("colorCode"),
        s(col("a.Signature.KeyInfo.X509Data.X509Certificate")).as("cert"))
      // P6 validity filter (task.ts:415-434): no <alert> root → all-null
      // struct → dropped here too.
      .filter(col("hasInfo") &&
        col("identifier") =!= "" && col("sender") =!= "" && col("sent") =!= "")
      .drop("hasInfo")
      .as[CapAlert]
  }
}
