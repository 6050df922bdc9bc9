package graft.sources

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import org.apache.spark.sql.types.{DataType, StructType}
import ManifestTable.{BloomConfig, PartitionTransform}

/** Per-version rollup counters recorded at publish (r14). */
private[graft] final case class Rollup(nFiles: Long, nBytes: Long,
                                       nAdded: Long, nRemoved: Long)

/** One root manifest, decoded: one field per root key, base64 values
  * already decoded. Optional fields are the keys older writers did not
  * emit; `stats` and `files` are the inline file list (empty when the
  * root is segmented, then `segments` names the segment files). */
private[graft] final case class RootRecord(
    version: Int,
    op: Option[String] = None,
    commitMs: Option[Long] = None,
    rollup: Option[Rollup] = None,
    features: Seq[String] = Nil,
    txns: Map[String, Long] = Map.empty,
    checks: Map[String, String] = Map.empty,
    tombstones: Seq[(String, Seq[String])] = Nil,
    dvs: Map[String, Seq[Long]] = Map.empty,
    bloom: Option[BloomConfig] = None,
    transforms: Seq[PartitionTransform] = Nil,
    ingestSegs: Seq[String] = Nil,
    partitionBy: Seq[String] = Nil,
    schema: Option[StructType] = None,
    stats: Map[String, Map[String, (Double, Double)]] = Map.empty,
    segments: Seq[String] = Nil,
    files: Seq[String] = Nil)

/** The root manifest codec, both directions. Roots are JSON; the
  * decoder is one streaming pass with the segment codec's settings
  * (stats may be bare NaN / ±Infinity). The encoder writes the layout
  * every earlier build wrote and read with line regexes — key order,
  * 2-space indent, one stats entry per line, `files` last — so those
  * builds still read new roots. That is also why the schema, CHECK,
  * txn, tombstone, DV, bloom and transform values stay base64: an old
  * reader must never meet a quote inside them. */
private[graft] object RootCodec {

  /** One configured mapper for every JSON file of the format (roots,
    * segments, ledgers, sidecars): non-numeric numbers are written bare
    * and accepted back — both ends are this codec — and so are raw
    * control characters in strings (see [[str]]). */
  val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.enable(JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS)
    m.enable(JsonParser.Feature.ALLOW_UNQUOTED_CONTROL_CHARS)
    m.disable(com.fasterxml.jackson.core.JsonGenerator.Feature.QUOTE_NON_NUMERIC_NUMBERS)
    m
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** The one JSON string encoder every string of a root goes through.
    * It escapes the quote and the backslash only: control characters
    * stay raw, as earlier builds wrote them (the mapper accepts them),
    * so every value those builds could write keeps its bytes. */
  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def encode(r: RootRecord): String = {
    val sb = new StringBuilder("{\n")
    def line(key: String, value: String): Unit =
      sb ++= "  " ++= str(key) ++= ": " ++= value ++= ",\n"
    def list(xs: Seq[String]): String = xs.map(str).mkString("[", ", ", "]")
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    line("version", r.version.toString)
    r.op.foreach(o => line("op", str(o)))
    r.commitMs.foreach(ms => line("commitMs", ms.toString))
    r.rollup.foreach(u => line("rollup", s"""{"nFiles": ${u.nFiles}, """ +
      s""""nBytes": ${u.nBytes}, "nAdded": ${u.nAdded}, "nRemoved": ${u.nRemoved}}"""))
    if (r.features.nonEmpty) line("features", list(r.features))
    if (r.txns.nonEmpty) line("txnsB64", obj(r.txns.toSeq.sortBy(_._1)
      .map { case (a, v) => b64(a) -> v.toString }))
    if (r.checks.nonEmpty) line("checksB64", obj(r.checks.toSeq.sortBy(_._1)
      .map { case (n, e) => b64(n) -> str(b64(e)) }))
    if (r.tombstones.nonEmpty) line("tombstonesB64",
      obj(r.tombstones.map { case (p, ts) => b64(p) -> list(ts) }))
    if (r.dvs.nonEmpty) line("dvsB64", obj(r.dvs.toSeq.sortBy(_._1)
      .map { case (f, os) => b64(f) -> str(encodeDv(os)) }))
    r.bloom.foreach(b => line("bloomB64", str(bloomB64(b))))
    if (r.transforms.nonEmpty)
      line("partitionTransformsB64", str(transformsB64(r.transforms)))
    if (r.ingestSegs.nonEmpty) line("ingestSegs", list(r.ingestSegs))
    if (r.partitionBy.nonEmpty) line("partitionBy", list(r.partitionBy))
    r.schema.foreach(s => line("schemaB64", str(b64(s.json))))
    if (r.stats.nonEmpty) line("stats", r.stats.toSeq.sortBy(_._1).map { case (f, m) =>
      "    " + str(f) + ": " + m.toSeq.sortBy(_._1)
        .map { case (c, (mn, mx)) => s"${str(c)}:[$mn,$mx]" }.mkString("{", ",", "}")
    }.mkString("{\n", ",\n", "\n  }"))
    if (r.segments.nonEmpty) line("segments", list(r.segments))
    sb ++= "  \"files\": [\n" ++= r.files.map("    " + str(_)).mkString(",\n") ++=
      "\n  ]\n}"
    sb.toString
  }

  /** Decode version `v` of `table`'s root. Unknown keys are skipped
    * (the protocol gate, not the codec, decides whether that is safe);
    * a root without a `files` key is corrupt, not empty. */
  def decode(text: String, table: String, v: Int): RootRecord = {
    val p = mapper.getFactory.createParser(text)
    try {
      require(p.nextToken() == JsonToken.START_OBJECT,
        s"manifest v$v of $table is not a JSON object")
      var r = RootRecord(v)
      var sawFiles = false
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val key = p.currentName
        p.nextToken()
        r = key match {
          case "version" => r.copy(version = p.getIntValue)
          case "op" => r.copy(op = Some(p.getText))
          case "commitMs" => r.copy(commitMs = Some(p.getLongValue))
          case "rollup" =>
            val m = fields(p)(p.getLongValue).toMap
            r.copy(rollup = Some(Rollup(m("nFiles"), m("nBytes"), m("nAdded"), m("nRemoved"))))
          case "features" => r.copy(features = strings(p))
          case "txnsB64" =>
            r.copy(txns = fields(p)(p.getLongValue).map(e => unb64(e._1) -> e._2).toMap)
          case "checksB64" =>
            r.copy(checks = fields(p)(unb64(p.getText)).map(e => unb64(e._1) -> e._2).toMap)
          case "tombstonesB64" => // a predicate may repeat: keep every entry
            r.copy(tombstones = fields(p)(strings(p)).map(e => unb64(e._1) -> e._2))
          case "dvsB64" =>
            r.copy(dvs = fields(p)(decodeDv(p.getText)).map(e => unb64(e._1) -> e._2).toMap)
          case "bloomB64" =>
            val n = mapper.readTree(unb64(p.getText))
            val cols = (0 until n.get("cols").size).map(i => n.get("cols").get(i).asText)
            r.copy(bloom = Some(BloomConfig(cols, n.get("bits").asLong, n.get("k").asInt)))
          case "partitionTransformsB64" =>
            val arr = mapper.readTree(unb64(p.getText))
            r.copy(transforms = (0 until arr.size).map { i =>
              val e = arr.get(i)
              PartitionTransform(e.get("k").asText, e.get("s").asText,
                e.get("n").asLong, e.get("t").asText)
            })
          case "ingestSegs" => r.copy(ingestSegs = strings(p))
          case "partitionBy" => r.copy(partitionBy = strings(p))
          case "schemaB64" => r.copy(schema =
            Some(DataType.fromJson(unb64(p.getText)).asInstanceOf[StructType]))
          case "stats" => r.copy(stats = fields(p)(fields(p) {
            require(p.currentToken == JsonToken.START_ARRAY &&
              p.nextToken().isNumeric, s"malformed stats in manifest v$v of $table")
            val mn = p.getDoubleValue
            require(p.nextToken().isNumeric, s"malformed stats in manifest v$v of $table")
            val mx = p.getDoubleValue
            require(p.nextToken() == JsonToken.END_ARRAY,
              s"malformed stats in manifest v$v of $table")
            (mn, mx)
          }.toMap).toMap)
          case "segments" => r.copy(segments = strings(p))
          case "files" =>
            sawFiles = true
            r.copy(files = strings(p).map(relative(_, table, v)))
          case _ => p.skipChildren(); r
        }
      }
      require(sawFiles, s"manifest v$v of $table has no files section")
      r
    } finally p.close()
  }

  /** The required features of a root that [[decode]] refused, read
    * without decoding any other key — so the protocol gate still names
    * an unknown feature whose section this build cannot parse. */
  def features(text: String): Seq[String] = {
    val p = mapper.getFactory.createParser(text)
    try {
      var out = Seq.empty[String]
      if (p.nextToken() == JsonToken.START_OBJECT)
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val key = p.currentName
          p.nextToken()
          if (key == "features") out = strings(p) else p.skipChildren()
        }
      out
    } finally p.close()
  }

  /** Roots written before the relative-path format (ADVICE r5) stored
    * absolute paths: one that still ends in a `/data/<uuid>/<file>` tail
    * is re-relativized (the layout never changed, only the recording);
    * anything else is a format error, never a silently dropped file. */
  private def relative(path: String, table: String, v: Int): String =
    if (path.startsWith("data/")) path
    else {
      val i = path.lastIndexOf("/data/")
      require(i >= 0,
        s"manifest v$v of $table contains unrecognized path '$path' — " +
          "not table-relative (data/...) and not a legacy absolute path " +
          "with a data/<uuid>/<file> tail; unknown or corrupt manifest format")
      path.substring(i + 1)
    }

  private def strings(p: JsonParser): Seq[String] = {
    require(p.currentToken == JsonToken.START_ARRAY, s"expected a list at ${p.currentLocation}")
    val out = Seq.newBuilder[String]
    while (p.nextToken() != JsonToken.END_ARRAY) {
      require(p.currentToken == JsonToken.VALUE_STRING,
        s"expected a string at ${p.currentLocation}")
      out += p.getText
    }
    out.result()
  }

  /** An object's entries in file order, `value` decoding each one with
    * the parser on its first token. */
  private def fields[A](p: JsonParser)(value: => A): Seq[(String, A)] = {
    require(p.currentToken == JsonToken.START_OBJECT, s"expected an object at ${p.currentLocation}")
    val out = Seq.newBuilder[(String, A)]
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val k = p.currentName
      p.nextToken()
      out += k -> value
    }
    out.result()
  }

  private def bloomB64(cfg: BloomConfig): String = {
    val node = mapper.createObjectNode()
    val arr = node.putArray("cols")
    cfg.cols.foreach(arr.add)
    node.put("bits", cfg.bits)
    node.put("k", cfg.k)
    b64(mapper.writeValueAsString(node))
  }

  private def transformsB64(pts: Seq[PartitionTransform]): String = {
    val arr = mapper.createArrayNode()
    pts.foreach { pt =>
      val e = arr.addObject()
      e.put("k", pt.kind); e.put("s", pt.source)
      e.put("n", pt.n); e.put("t", pt.target)
    }
    b64(mapper.writeValueAsString(arr))
  }

  /** Sorted ordinals → delta-varint bytes → base64 (compact: dense
    * runs cost ~1 byte/row). */
  private def encodeDv(ordinals: Seq[Long]): String = {
    val out = new java.io.ByteArrayOutputStream()
    var prev = 0L
    ordinals.foreach { o =>
      var d = o - prev
      require(d >= 0, "deletion-vector ordinals must be sorted and distinct")
      prev = o
      while ((d & ~0x7fL) != 0) { out.write(((d & 0x7f) | 0x80).toInt); d >>>= 7 }
      out.write(d.toInt)
    }
    java.util.Base64.getEncoder.encodeToString(out.toByteArray)
  }

  private def decodeDv(b64: String): Seq[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val out = Seq.newBuilder[Long]
    var i = 0
    var prev = 0L
    while (i < bytes.length) {
      var d = 0L
      var shift = 0
      var more = true
      while (more) {
        val b = bytes(i); i += 1
        d |= (b & 0x7fL) << shift; shift += 7
        more = (b & 0x80) != 0
      }
      prev += d
      out += prev
    }
    out.result()
  }
}
