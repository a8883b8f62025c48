package graft.operators

import graft.QuerySpec
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HL7 v2 message framing — the reference platform's actual ingest
  * format: CDC's Surveillance Data Platform shared services validate
  * and route HL7 v2 messages between providers and surveillance
  * programs (`/root/reference/README.md:2-4` names the project; the
  * deployment's data tier at `mysql-persistent-template.json:68`
  * stores what those services parse). The framing implemented here is
  * the PUBLIC HL7 v2 standard: one segment per line (`\r`), fields
  * split by `|`, components by `^`, repetitions by `~`,
  * subcomponents by `&`, and the five escape sequences `\F\ \S\ \R\
  * \T\ \E\` for embedding the delimiters themselves.
  *
  * Both directions are pure column expressions over built-in
  * functions — `concat_ws`/`split`/`filter`/`transform` — so render
  * and parse are NARROW per-row transforms (no shuffle, no UDF, no
  * driver involvement): at 100 TB the message corpus maps through in
  * one pass, and malformed messages degrade to NULL-field rows the
  * quarantine sink can divert rather than task failures.
  *
  * The correctness gate is self-inverting: `q_hl7_roundtrip` renders
  * a message per document whose OBX-5 value deliberately CONTAINS
  * every reserved character, parses it back, and hash-checks the
  * parsed columns against DuckDB's direct recomputation of the
  * pre-render values — any drift in EITHER the renderer's escaping or
  * the parser's unescaping breaks the hash.
  */
object Hl7 {

  /** Escape a raw string for use inside one HL7 field component.
    * Backslash FIRST (it spells the escapes themselves), then each
    * delimiter; the five delimiter sequences are the standard's named
    * escapes, and CR/LF go through the standard's hex-data escape
    * (`\X0D\` / `\X0A\`) — a raw CR in a payload IS the segment
    * separator, so an unescaped one silently re-frames the message
    * (wrong fields, no error), violating the codec's degrade-visibly
    * contract.
    */
  def hl7Escape(c: Column): Column = {
    val e = regexp_replace(c, "\\\\", "\\\\E\\\\")
    val f = regexp_replace(e, "\\|", "\\\\F\\\\")
    val s = regexp_replace(f, "\\^", "\\\\S\\\\")
    val r = regexp_replace(s, "~", "\\\\R\\\\")
    val t = regexp_replace(r, "&", "\\\\T\\\\")
    val cr = regexp_replace(t, "\r", "\\\\X0D\\\\")
    regexp_replace(cr, "\n", "\\\\X0A\\\\")
  }

  /** Decode HL7 escapes in ONE pass: split on backslash — odd tokens
    * are escape codes, even tokens literal text (a chained
    * string-replace decoder mis-reads adjacent escapes like `\E\F\`).
    * Unknown codes keep their spelling (standard behavior for
    * unhandled `\Z...\` custom escapes: pass through visibly, never
    * drop data silently).
    */
  def hl7Unescape(c: Column): Column =
    array_join(
      zip_with(
        split(c, "\\\\", -1),
        sequence(lit(0), greatest(size(split(c, "\\\\", -1)) - 1, lit(0))),
        (t, i) => when(i % 2 === 0, t).otherwise(
          when(t === "F", lit("|"))
            .when(t === "S", lit("^"))
            .when(t === "R", lit("~"))
            .when(t === "T", lit("&"))
            .when(t === "E", lit("\\"))
            .when(t === "X0D", lit("\r"))
            .when(t === "X0A", lit("\n"))
            .otherwise(concat(lit("\\"), t, lit("\\"))))),
      "")

  /** Render one ORU^R01-shaped message per document: MSH carries the
    * doc id as the message control id (MSH-10), PID carries it as the
    * patient identifier (PID-3.1), OBX-5 carries the payload value —
    * built to contain every reserved character so the escape path is
    * exercised on every row, not just adversarial fixtures. Documents
    * whose id divides by `truncateEvery` render WITHOUT their OBX
    * segment — the deterministic malformed population the parser must
    * degrade on (header intact, payload absent).
    */
  def renderMessages(docs: DataFrame, truncateEvery: Int = 17): DataFrame = {
    val value = concat(
      substring(col("text"), 1, 40), lit("|"),
      col("lang"), lit("^"),
      col("source"), lit("~\\&"))
    val msh = concat_ws("|",
      lit("MSH"), lit("^~\\&"), lit("GRAFT"), lit("LAB"), lit("RECV"),
      lit("FAC"), lit(""), lit(""), lit("ORU^R01"),
      col("doc_id").cast("string"), lit("P"), lit("2.5.1"))
    val pid = concat_ws("|",
      lit("PID"), lit("1"), lit(""),
      concat(col("doc_id").cast("string"), lit("^^^GRAFT")))
    val obx = concat_ws("|",
      lit("OBX"), lit("1"), lit("TX"), lit("TXT^text^L"), lit(""),
      hl7Escape(value), lit(""), lit(""), lit(""), lit(""), lit(""),
      lit("F"))
    docs.select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(truncateEvery.toLong)) === 0,
        concat_ws("\r", msh, pid))
        .otherwise(concat_ws("\r", msh, pid, obx)).as("hl7"))
  }

  /** Parse framed messages back to typed columns: message control id
    * (MSH-10), patient id (PID-3.1), unescaped OBX-5 value and OBX-11
    * status. A message without the segment yields NULLs for that
    * segment's columns and `has_obx = false` — the malformed-row
    * contract (degrade, never throw). Pure narrow expressions;
    * `filter(segments, …)` finds each segment without exploding the
    * row.
    */
  def parseMessages(msgs: DataFrame, msgCol: String = "hl7"): DataFrame = {
    val segs = split(col(msgCol), "\r")
    // try_element_at throughout: an absent segment or short field list
    // must yield NULL (the degrade contract), and ANSI element_at
    // would throw on the malformed population instead
    def seg(name: String): Column =
      try_element_at(filter(segs, s => substring(s, 1, 4) === s"$name|"),
        lit(1))
    def fld(segment: Column, i: Int): Column =
      try_element_at(split(segment, "\\|", -1), lit(i + 1)) // 1-based
    val msh = seg("MSH")
    val pid = seg("PID")
    val obx = seg("OBX")
    msgs.select(
      fld(msh, 9).cast("long").as("msg_id"),
      try_element_at(split(fld(pid, 3), "\\^", -1), lit(1)).as("patient_id"),
      hl7Unescape(fld(obx, 5)).as("obx_value"),
      fld(obx, 11).as("obx_status"),
      obx.isNotNull.as("has_obx"))
  }

  /** Render → parse → compare: the parsed columns must equal the
    * pre-render originals byte for byte (DuckDB recomputes the
    * originals directly — it never sees a message, so the hash pins
    * BOTH directions of the codec). The malformed population (every
    * 17th doc, OBX dropped) must come back header-parsed with NULL
    * payload and `has_obx = false`.
    */
  val qHl7Roundtrip: QuerySpec = QuerySpec(
    "q_hl7_roundtrip",
    Some("""SELECT doc_id,
        CAST(doc_id AS VARCHAR) AS patient_id,
        CASE WHEN doc_id % 17 = 0 THEN NULL
             ELSE concat(substr(text, 1, 40), '|', lang, '^', source,
                         '~\&') END AS obx_value,
        CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 'F' END AS obx_status,
        doc_id % 17 <> 0 AS has_obx
      FROM documents ORDER BY doc_id"""),
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      parseMessages(renderMessages(docs))
        .select(col("msg_id").as("doc_id"), col("patient_id"),
          col("obx_value"), col("obx_status"), col("has_obx"))
        .orderBy("doc_id")
    })

  /** The reference's core use case END TO END through the engine:
    * HL7 messages arrive as a STREAM (4 file micro-batches), each
    * batch parses ([[parseMessages]]) and lands through the
    * constraint-screened dead-letter sink — structurally-valid
    * results commit to the keyed table, payload-less messages (the
    * deterministic malformed population) divert to `_quarantine`
    * stamped with the broken constraint's name. This is the
    * ingest→validate→route pipeline the reference's shared services
    * implement around their MySQL tier, run on the engine's own
    * format with exactly-once micro-batches. The oracle recomputes
    * BOTH sides of the split from the raw documents (it never sees a
    * message): a hash match pins render, parse, the screen's routing,
    * and the dead-letter capture in one row. Scale: parse is narrow
    * per-row work inside each micro-batch; the sink merge rides
    * O(touched buckets); letters ride the violation count.
    */
  val qHl7Pipeline: QuerySpec = QuerySpec(
    "q_hl7_pipeline",
    Some("""SELECT 'state' AS src, doc_id,
        CAST(doc_id AS VARCHAR) AS patient_id,
        concat(substr(text, 1, 40), '|', lang, '^', source, '~\&')
          AS obx_value,
        'F' AS obx_status, true AS has_obx, doc_id % 4 AS b
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT 'quarantine' AS src, doc_id,
        CAST(doc_id AS VARCHAR) AS patient_id,
        NULL AS obx_value, NULL AS obx_status, false AS has_obx,
        doc_id % 4 AS b
      FROM documents WHERE doc_id % 17 = 0
      ORDER BY src, doc_id"""),
    (spark, dir) => {
      import graft.sources.Ingest
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val run = StreamRun(spark, "hl7-pipeline")
      val table = s"${run.base}/table"
      val msgs = renderMessages(Tables.load(spark, dir, "documents"))
      val msgSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("hl7", StringType)))
      def writer(b: DataFrame, id: Long): Unit =
        Ingest.upsertParquet(table, Seq("doc_id"), nBuckets = 8,
          keepVersions = 2,
          constraints = Seq("has_payload" -> "has_obx"),
          quarantine = true)(
          parseMessages(b)
            .select(col("msg_id").as("doc_id"), col("patient_id"),
              col("obx_value"), col("obx_status"), col("has_obx"))
            .withColumn("b", lit(id)),
          id)
      run.chunked(dir, "hl7-pipeline", msgSchema, 4)(i =>
        msgs.filter(pmod(col("doc_id"), lit(4)) === i))(src =>
        Ingest.foreachBatchSink(src, run.checkpoint)(writer).start())
      val dead = Ingest.readQuarantine(spark, table)
      require(dead.filter(col(Ingest.QuarantineReasonCol) =!=
        array(lit("has_payload"))).count() == 0,
        "every dead letter must blame exactly the payload screen")
      val cols = Seq("doc_id", "patient_id", "obx_value", "obx_status",
        "has_obx", "b")
      Ingest.readUpsertTable(spark, table)
        .select(lit("state").as("src") +: cols.map(col): _*)
        .unionByName(dead
          .select(lit("quarantine").as("src") +: cols.map(col): _*))
        .orderBy("src", "doc_id")
    })

  /** Render ORU messages WITH FULL HL7 STRUCTURE (r16): PID-13
    * carries REPETITIONS (two escaped contact values joined by the
    * raw `~` repetition delimiter), OBR anchors the order, and TWO
    * OBX segments carry observations whose OBX-3 observation id has
    * SUBCOMPONENTS (`&`-joined escaped parts inside component 1) —
    * the three structural layers the flat [[renderMessages]] shape
    * does not exercise. Every payload again deliberately CONTAINS
    * reserved characters, so structure delimiters and escaped
    * delimiters coexist in one field: the split-then-unescape order
    * is what the row proves (escaping hides payload `~`/`&` from the
    * structural splits). The malformed population (every
    * `truncateEvery`-th doc) renders without its OBX block.
    */
  def renderStructured(docs: DataFrame, truncateEvery: Int = 17): DataFrame = {
    val rep1 = col("lang")
    val rep2 = concat(col("source"), lit("|"), lit("\\"))
    val sub1 = col("source")
    val sub2 = concat(col("lang"), lit("&x"))
    val value1 = concat(substring(col("text"), 1, 30), lit("|"), col("lang"))
    val value2 = concat(col("source"), lit("~&"), col("lang"))
    val msh = concat_ws("|",
      lit("MSH"), lit("^~\\&"), lit("GRAFT"), lit("LAB"), lit("RECV"),
      lit("FAC"), lit(""), lit(""), lit("ORU^R01"),
      col("doc_id").cast("string"), lit("P"), lit("2.5.1"))
    val pid = concat_ws("|",
      lit("PID"), lit("1"), lit(""),
      concat(col("doc_id").cast("string"), lit("^^^GRAFT")),
      lit(""), lit(""), lit(""), lit(""), lit(""), lit(""), lit(""),
      lit(""), lit(""),
      // PID-13: repetitions — escape each value, join with RAW ~
      concat(hl7Escape(rep1), lit("~"), hl7Escape(rep2)))
    val obr = concat_ws("|", lit("OBR"), lit("1"), lit(""),
      col("doc_id").cast("string"))
    // OBX-3 component 1 holds subcomponents: escape each part, join
    // with RAW & (then raw ^ joins the components)
    val obsId1 = concat(hl7Escape(sub1), lit("&"), hl7Escape(sub2),
      lit("^text^L"))
    val obx1 = concat_ws("|",
      lit("OBX"), lit("1"), lit("TX"), obsId1, lit(""),
      hl7Escape(value1), lit(""), lit(""), lit(""), lit(""), lit(""),
      lit("F"))
    val obx2 = concat_ws("|",
      lit("OBX"), lit("2"), lit("NM"), lit("cnt^tokens^L"), lit(""),
      hl7Escape(value2), lit(""), lit(""), lit(""), lit(""), lit(""),
      lit("F"))
    docs.select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(truncateEvery.toLong)) === 0,
        concat_ws("\r", msh, pid, obr))
        .otherwise(concat_ws("\r", msh, pid, obr, obx1, obx2)).as("hl7"))
  }

  /** Parse structured messages: repetitions (PID-13 split on raw `~`
    * BEFORE unescaping — an escaped `\R\` in a value must not split),
    * subcomponents (OBX-3.1 split on raw `&` before unescaping), and
    * the OBX block as a per-index surface (`obx_count`, first/second
    * observation values). Absent structure degrades to NULL / 0,
    * never throws — the same contract as [[parseMessages]].
    */
  def parseStructured(msgs: DataFrame, msgCol: String = "hl7"): DataFrame = {
    val segs = split(col(msgCol), "\r")
    def seg(name: String): Column =
      try_element_at(filter(segs, s => substring(s, 1, 4) === s"$name|"),
        lit(1))
    def fld(segment: Column, i: Int): Column =
      try_element_at(split(segment, "\\|", -1), lit(i + 1))
    val msh = seg("MSH")
    val pid = seg("PID")
    val obxs = filter(segs, s => substring(s, 1, 4) === "OBX|")
    def obxAt(i: Int): Column = try_element_at(obxs, lit(i))
    val reps = split(fld(pid, 13), "~", -1)
    def obsIdSub(obx: Column, i: Int): Column =
      hl7Unescape(try_element_at(
        split(try_element_at(split(fld(obx, 3), "\\^", -1), lit(1)),
          "&", -1), lit(i)))
    msgs.select(
      fld(msh, 9).cast("long").as("doc_id"),
      hl7Unescape(try_element_at(reps, lit(1))).as("rep1"),
      hl7Unescape(try_element_at(reps, lit(2))).as("rep2"),
      coalesce(size(obxs), lit(0)).as("obx_count"),
      hl7Unescape(fld(obxAt(1), 5)).as("obx1_value"),
      obsIdSub(obxAt(1), 1).as("obx1_sub1"),
      obsIdSub(obxAt(1), 2).as("obx1_sub2"),
      hl7Unescape(fld(obxAt(2), 5)).as("obx2_value"))
  }

  /** Structured render → parse round trip: repetitions, subcomponents
    * and the multi-OBX block recovered byte-for-byte while every
    * payload contains raw delimiters (DuckDB recomputes the parsed
    * columns from `documents` directly — the hash pins both codec
    * directions THROUGH the structural splits). The malformed
    * population parses headers with `obx_count = 0` and NULL
    * observation columns.
    */
  val qHl7Structured: QuerySpec = QuerySpec(
    "q_hl7_structured",
    Some("""SELECT doc_id,
        lang AS rep1,
        source || '|' || '\' AS rep2,
        CASE WHEN doc_id % 17 = 0 THEN 0 ELSE 2 END AS obx_count,
        CASE WHEN doc_id % 17 = 0 THEN NULL
             ELSE substr(text, 1, 30) || '|' || lang END AS obx1_value,
        CASE WHEN doc_id % 17 = 0 THEN NULL ELSE source END AS obx1_sub1,
        CASE WHEN doc_id % 17 = 0 THEN NULL
             ELSE lang || '&x' END AS obx1_sub2,
        CASE WHEN doc_id % 17 = 0 THEN NULL
             ELSE source || '~&' || lang END AS obx2_value
      FROM documents ORDER BY doc_id"""),
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      parseStructured(renderStructured(docs))
        .orderBy("doc_id")
    })

  /** MLLP frame (HL7's Minimal Lower Layer Protocol — the wire
    * framing every HL7 v2 interface engine speaks): `<VT> message
    * <FS><CR>` (0x0B … 0x1C 0x0D). MLLP has NO escape mechanism —
    * the payload must not contain the frame bytes, so they are
    * stripped (HL7 v2 content is CR-separated printable text; a
    * stray VT/FS in source data is corruption, not content).
    */
  def mllpFrame(msg: Column): Column =
    concat(lit("\u000b"), translate(msg, "\u000b\u001c", ""),
      lit("\u001c\r"))

  /** Batch a frame-per-message wire stream with the HL7 batch
    * protocol: a BHS (batch header) frame, the message frames in
    * `doc_id` order, and a BTS (batch trailer) frame whose BTS-1
    * carries the message COUNT — the receiver's integrity check.
    * One row per batch: `(batch_id, wire)`.
    *
    * Scale: one keyed aggregation; each batch's wire is assembled
    * from a sorted collect_list inside its group — batch size is the
    * caller's partition-sizing choice (the fixture's `doc_id % 16`
    * keeps groups bounded), and batches parallelize freely.
    */
  def mllpWire(msgs: DataFrame, batchCol: Column): DataFrame = {
    val framed = msgs.select(batchCol.as("batch_id"), col("doc_id"),
      mllpFrame(col("hl7")).as("f"))
    val bhs = mllpFrame(lit("BHS|^~\\&|GRAFT|LAB|RECV|FAC"))
    framed.groupBy("batch_id")
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("doc_id"), col("f"))))
          .as("fs"))
      .select(col("batch_id"),
        concat(bhs,
          array_join(transform(col("fs"), x => x.getField("f")), ""),
          mllpFrame(concat(lit("BTS|"), col("n").cast("string"))))
          .as("wire"))
  }

  /** Unframe + verify an MLLP batch wire: split on the FS+CR frame
    * terminator, demand the VT frame start on every piece
    * (`frames_ok`), classify BHS/BTS/message frames, check the BTS
    * count against the messages actually present (`bts_ok`), and
    * checksum the parsed MSH-10 ids (`id_sum` — content survival,
    * not just frame counts). Pure narrow array expressions; a
    * corrupted wire degrades to `frames_ok = false`, never throws.
    */
  def mllpVerify(wires: DataFrame): DataFrame = {
    val parts = filter(split(col("wire"), "\u001c\r"),
      p => length(p) > 0)
    val framesOk = forall(parts, p => substring(p, 1, 1) === "\u000b")
    val msgs = transform(parts, p => substring(p, 2, Int.MaxValue))
    def isSeg(m: Column, name: String): Column =
      substring(m, 1, 4) === s"$name|"
    val body = filter(msgs,
      m => !isSeg(m, "BHS") && !isSeg(m, "BTS"))
    val bts = try_element_at(filter(msgs, m => isSeg(m, "BTS")), lit(1))
    val btsN = try_element_at(split(bts, "\\|", -1), lit(2)).cast("long")
    val idOf = (m: Column) => try_element_at(
      split(try_element_at(split(m, "\r"), lit(1)), "\\|", -1),
      lit(10)).cast("long")
    wires.select(col("batch_id"),
      size(body).cast("long").as("n_msgs"),
      btsN.as("bts_n"),
      framesOk.as("frames_ok"),
      (size(body).cast("long") === btsN).as("bts_ok"),
      aggregate(transform(body, idOf), lit(0L), (a, x) => a + x)
        .as("id_sum"))
  }

  /** Render → MLLP-frame into batches (with BHS/BTS envelope) →
    * unframe → verify: the DuckDB oracle never sees a frame — it
    * recomputes each batch's expected count and id checksum straight
    * from `documents`, so the hash pins the whole wire round trip:
    * framing discipline, batch envelope, trailer count, and every
    * message's MSH-10 surviving transport.
    */
  val qHl7Mllp: QuerySpec = QuerySpec(
    "q_hl7_mllp",
    Some("""SELECT CAST(doc_id % 16 AS BIGINT) AS batch_id,
        count(*) AS n_msgs, count(*) AS bts_n,
        true AS frames_ok, true AS bts_ok,
        CAST(sum(doc_id) AS BIGINT) AS id_sum
      FROM documents GROUP BY 1 ORDER BY batch_id"""),
    (spark, dir) => {
      val docs = Tables.load(spark, dir, "documents")
      mllpVerify(mllpWire(renderMessages(docs), pmod(col("doc_id"), lit(16L))))
        .orderBy("batch_id")
    })

  def specs: Seq[QuerySpec] =
    Seq(qHl7Roundtrip, qHl7Pipeline, qHl7Structured, qHl7Mllp)
}
