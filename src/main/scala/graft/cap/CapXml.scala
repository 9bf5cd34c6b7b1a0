package graft.cap

import java.io.StringReader
import java.util.Locale
import javax.xml.stream.{XMLInputFactory, XMLStreamReader}
import javax.xml.stream.XMLStreamConstants._

import scala.annotation.tailrec
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.functions.Lookups

/** P4-P7 in one pass: a CAP XML document becomes its [[CapAlert]], or
  * None when it is not a valid alert (task.ts:409-553). One
  * `XMLStreamReader` cursor walks the document once and fills the
  * alert's fields; no row, schema or Catalyst expression is involved.
  *
  * The reading rules are those of Spark's XML reader (`StaxXmlParser`)
  * over a CAP schema whose leaves are all strings: the form the engine
  * parsed with before, which the specs keep as the differential
  * reference `FromXmlForm`:
  *  - the first element is the root, whatever its name, and reading
  *    stops at its end tag: nothing after it is read;
  *  - element names match the CAP fields case-insensitively; any other
  *    element is skipped with its content;
  *  - a leaf's value is its content, trimmed; markup inside a leaf comes
  *    back as its raw inner XML; a present but empty leaf is '';
  *  - a repeated leaf, `<area>` or `<Signature>` keeps its last
  *    occurrence; `<info>`, `<polygon>` and `<parameter>` collect all;
  *  - comments, processing instructions, the DOCTYPE and entity
  *    references are dropped; no DTD and no external entity is read;
  *  - an error inside a child element ends the element it sits in and
  *    keeps the fields read so far (Spark's partial result); any other
  *    error drops the document.
  * The projection then applies the reference's quirks: exactly one
  * `<info>` is projected and several blank every info field (JS reads
  * `info.x` off the array), an empty `<info/>` drops the alert like
  * fast-xml-parser's falsy '', `ColourCodeHex` wins over `ColourCode`,
  * and an alert without identifier, sender or sent is dropped.
  */
object CapXml {

  /** The engine's one StAX factory, with the four properties Spark's XML
    * reader sets: namespace-unaware, coalescing, no external entities,
    * no DTD. Creating readers from a configured factory is thread-safe. */
  private val factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }

  // The CAP fields the decoder reads: a leaf's text, an element with
  // named children (an Array[AnyRef] in field order, null = absent), or
  // a repeated element (an ArrayBuffer of its values).
  private sealed trait Shape
  private case object Leaf extends Shape
  private final case class Many(of: Shape) extends Shape
  private final class Node(fields: (String, Shape)*) extends Shape {
    val shapes: Array[Shape] = fields.map(_._2).toArray
    private val index = fields.map(_._1.toLowerCase(Locale.ROOT)).zipWithIndex.toMap
    def indexOf(name: String): Int = index.getOrElse(name.toLowerCase(Locale.ROOT), -1)
  }

  private val Area = new Node("areaDesc" -> Leaf, "polygon" -> Many(Leaf), "circle" -> Leaf)
  private val Parameter = new Node("valueName" -> Leaf, "value" -> Leaf)
  private val Info = new Node(
    "category" -> Leaf, "event" -> Leaf, "urgency" -> Leaf, "severity" -> Leaf,
    "certainty" -> Leaf, "senderName" -> Leaf, "headline" -> Leaf, "description" -> Leaf,
    "instruction" -> Leaf, "responseType" -> Leaf, "onset" -> Leaf, "expires" -> Leaf,
    "web" -> Leaf, "area" -> Area, "parameter" -> Many(Parameter))
  private val Alert = new Node(
    "identifier" -> Leaf, "sender" -> Leaf, "sent" -> Leaf, "status" -> Leaf,
    "msgType" -> Leaf, "scope" -> Leaf, "info" -> Many(Info),
    "Signature" -> new Node("KeyInfo" -> new Node("X509Data" -> new Node("X509Certificate" -> Leaf))))

  /** The fields read before an error inside one of the element's children. */
  private final class Partial(val fields: Array[AnyRef]) extends Exception(null, null, false, false)

  private final val NoEvent = -1

  private def isText(t: Int): Boolean = t == CHARACTERS || t == CDATA || t == SPACE

  /** The reader's events with one event of look-ahead, skipping comments,
    * processing instructions, DTDs and entity references: `peek` reads
    * the next event without taking it, `next` takes it. The data of the
    * last event read stays readable until the cursor advances. A
    * skipped or text event's token is read out when the cursor reaches
    * it, so a malformed token fails at that event. */
  private final class Cursor(r: XMLStreamReader) {
    private var held = true   // START_DOCUMENT: read, not yet taken
    private var ended = false // END_DOCUMENT taken
    var text: String = _

    def peek(): Int =
      if (held) r.getEventType
      else if (ended) NoEvent
      else { advance(); held = true; r.getEventType }

    def next(): Int = {
      if (held) held = false
      else if (ended) throw new NoSuchElementException("past the end of the document")
      else advance()
      val t = r.getEventType
      if (t == END_DOCUMENT) ended = true
      t
    }

    private def advance(): Unit = {
      var t = r.next()
      while (t == COMMENT || t == PROCESSING_INSTRUCTION || t == ENTITY_REFERENCE || t == DTD) {
        if (t == PROCESSING_INSTRUCTION) r.getPIData else r.getText
        t = r.next()
      }
      if (isText(t)) text = r.getText
    }

    def name: String = r.getLocalName

    /** The current start or end tag as Spark's XML reader prints it inside a leaf. */
    def tag(sb: java.lang.StringBuilder): Unit =
      if (r.getEventType == END_ELEMENT) sb.append("</").append(r.getName).append('>')
      else {
        sb.append('<').append(r.getName)
        var i = 0
        while (i < r.getAttributeCount) {
          sb.append(' ').append(r.getAttributeName(i)).append("=\"")
            .append(r.getAttributeValue(i)).append('"')
          i += 1
        }
        sb.append('>')
      }
  }

  /** The fields of the element whose start tag was just taken, up to and
    * including its end tag. */
  private def node(c: Cursor, n: Node): Array[AnyRef] = {
    val fields = new Array[AnyRef](n.shapes.length)
    var failed = false
    var t = c.next()
    while (t != END_ELEMENT && t != END_DOCUMENT) {
      if (t == START_ELEMENT) {
        val name = c.name
        try {
          val i = n.indexOf(name)
          if (i < 0) skip(c, name)
          else fields(i) = n.shapes(i) match {
            case Leaf => leaf(c, name)
            case m: Node => child(c, m, name)
            case Many(m: Node) => more(fields(i), child(c, m, name))
            case Many(_) => more(fields(i), leaf(c, name))
          }
        } catch { case NonFatal(_) => failed = true }
      }
      t = c.next()
    }
    if (failed) throw new Partial(fields)
    fields
  }

  private def more(values: AnyRef, v: AnyRef): ArrayBuffer[AnyRef] = {
    val buf = if (values == null) ArrayBuffer.empty[AnyRef] else values.asInstanceOf[ArrayBuffer[AnyRef]]
    buf += v
  }

  /** A child element's fields; all absent when it is empty. */
  private def child(c: Cursor, n: Node, name: String): Array[AnyRef] = {
    val t = c.peek()
    if (t == END_ELEMENT) { endTag(c, name); new Array[AnyRef](n.shapes.length) }
    else if (t == START_ELEMENT || isText(t)) node(c, n)
    else throw new IllegalArgumentException(s"no value for <$name> at event $t")
  }

  /** A leaf's content, trimmed: its text, or its raw inner XML when it
    * holds markup; '' when it is empty. */
  private def leaf(c: Cursor, name: String): String = {
    val t = c.peek()
    if (t == END_ELEMENT) { endTag(c, name); "" }
    else if (t == START_ELEMENT || isText(t)) {
      val sb = new java.lang.StringBuilder
      var depth = 0
      while ({
        c.next() match {
          case START_ELEMENT => c.tag(sb); depth += 1
          case END_ELEMENT => c.tag(sb); depth -= 1
          case e if isText(e) => sb.append(c.text)
          case _ =>
        }
        c.peek() != END_ELEMENT || depth > 0
      }) ()
      endTag(c, name)
      sb.toString.trim
    } else throw new IllegalArgumentException(s"no value for <$name> at event $t")
  }

  /** Takes the end tag of `name`, past blank text. */
  @tailrec private def endTag(c: Cursor, name: String): Unit = {
    val t = c.next()
    if (isText(t) && c.text.forall(_ <= ' ')) endTag(c, name)
    else if (t != END_ELEMENT || c.name != name) throw new IllegalStateException(s"expected </$name>")
  }

  /** Skips an unknown element with its content, up to its end tag. */
  private def skip(c: Cursor, name: String): Unit = {
    var t = c.next()
    while (t != END_ELEMENT) {
      if (t == START_ELEMENT) skip(c, c.name)
      t = c.next()
    }
    if (c.name != name) throw new IllegalStateException(s"expected </$name>")
  }

  /** The alert in `xml`, or None when `xml` is no valid CAP alert. */
  def decode(xml: String): Option[CapAlert] =
    if (xml == null) None
    else try {
      val r = factory.createXMLStreamReader(new StringReader(xml))
      val c = new Cursor(r)
      var t = c.peek()
      while (c.peek() != NoEvent && t != START_ELEMENT) t = c.next()
      if (t != START_ELEMENT) None
      else {
        val alert = node(c, Alert)
        r.close()
        project(alert)
      }
    } catch {
      case p: Partial => project(p.fields)
      case NonFatal(_) => None
    }

  private val NoFields = new Array[AnyRef](Info.shapes.length)

  private def s(v: AnyRef): String = if (v == null) "" else v.asInstanceOf[String]

  private def field(v: AnyRef, i: Int): AnyRef = if (v == null) null else v.asInstanceOf[Array[AnyRef]](i)

  private def list(v: AnyRef): ArrayBuffer[Array[AnyRef]] = v.asInstanceOf[ArrayBuffer[Array[AnyRef]]]

  private def project(a: Array[AnyRef]): Option[CapAlert] = {
    val infos = list(a(6))
    // P6 (task.ts:427-430): no <info>, or one empty <info/>, drops the alert
    val hasInfo = infos != null && !(infos.length == 1 && infos(0).forall(_ == null))
    val (identifier, sender, sent) = (s(a(0)), s(a(1)), s(a(2)))
    if (!hasInfo || identifier.isEmpty || sender.isEmpty || sent.isEmpty) None
    else {
      // P4 multi-<info> quirk (task.ts:427-453): several <info> blank every info field
      val info = if (infos.length == 1) infos(0) else NoFields
      val area = info(13)
      val params = list(info(14))
      def param(name: String): Array[AnyRef] =
        if (params == null) null else params.find(p => name == p(0)).orNull
      // P7 (task.ts:456-476): a present ColourCodeHex wins even when empty
      val hex = param("ColourCodeHex")
      val colorCode =
        if (hex != null) s(hex(1))
        else Option(field(param("ColourCode"), 1))
          .flatMap(v => Lookups.ColorMap.get(v.asInstanceOf[String])).getOrElse("")
      val polygon = field(area, 1) match {
        case null => Nil
        case ps => ps.asInstanceOf[ArrayBuffer[AnyRef]].iterator.map(s).toList
      }
      Some(CapAlert(identifier, sender, sent, s(a(3)), s(a(4)), s(a(5)),
        s(info(0)), s(info(1)), s(info(2)), s(info(3)), s(info(4)), s(info(5)), s(info(6)),
        s(info(7)), s(info(8)), s(info(9)), s(info(10)), s(info(11)), s(info(12)),
        s(field(area, 0)), polygon, s(field(area, 2)), colorCode,
        s(field(field(field(a(7), 0), 0), 0))))
    }
  }
}
