package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructType}

import graft.sources.{Ingest, TableStore}

/** SQL spellings for the table-format operations — the surface a
  * SQL-first user (the reference deploys a SQL database) drives
  * maintenance from, injected through `SparkSessionExtensions
  * .injectParser` so `spark.sql(...)` just works:
  *
  * {{{
  *   GRAFT DESCRIBE HISTORY '<table dir>'
  *   GRAFT DESCRIBE DETAIL '<table dir>'
  *   GRAFT DESCRIBE STATS '<table dir>'
  *   GRAFT MAINTENANCE '<table dir>' [KEEP <k> VERSIONS]
  *   GRAFT RESTORE '<table dir>' TO BATCH <n> [KEEP <k> VERSIONS]
  *   GRAFT CLONE '<src dir>' TO '<dst dir>'
  *   GRAFT BRANCH '<src dir>' TO '<branch dir>'
  *   GRAFT PUBLISH '<branch dir>' [KEEP <k> VERSIONS] [FORCE]
  *   GRAFT DELETE '<table dir>' [KEEP <k> VERSIONS] WHERE <predicate>
  *   GRAFT UPDATE '<table dir>' [KEEP <k> VERSIONS] SET c = expr, … WHERE <predicate>
  *   GRAFT UPSERT '<table dir>' [KEYS c1, c2] [BUCKETS <n>] [DELETE COL <c>]
  *                [KEEP <k> VERSIONS] FROM <query>
  *   GRAFT MERGE '<table dir>' [KEEP <k> VERSIONS] USING (<query>)
  *               WHEN MATCHED [AND <cond>] THEN UPDATE SET c = expr, …
  *               WHEN MATCHED [AND <cond>] THEN DELETE
  *               WHEN NOT MATCHED [AND <cond>] THEN INSERT
  *               WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET …
  *               WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE
  *   GRAFT ALTER '<table dir>' RENAME COLUMN a TO b
  *   GRAFT ALTER '<table dir>' DROP COLUMN a
  *   GRAFT ALTER '<table dir>' ADD CONSTRAINT n CHECK (expr)
  *   GRAFT ALTER '<table dir>' DROP CONSTRAINT n
  *   GRAFT OPTIMIZE '<table dir>' [ZORDER BY c1, c2[, c3]] [PURGE COLUMNS]
  *   GRAFT COMPACT '<table dir>' [OVER <n> FILES]
  *   GRAFT REBUCKET '<table dir>' TO <n> BUCKETS
  *   GRAFT VACUUM '<table dir>' KEEP <k> VERSIONS [GRACE <ms> MS]
  *                [QUARANTINE KEEP <n> BATCHES]
  *   GRAFT TAG '<table dir>' CREATE <name> AT BATCH <n>
  *   GRAFT TAG '<table dir>' DROP <name>
  *   GRAFT TAGS '<table dir>'
  *   GRAFT QUARANTINE '<table dir>'
  *   GRAFT QUARANTINE PRUNE '<table dir>' KEEP <n> BATCHES
  *   GRAFT QUARANTINE REQUEUE '<table dir>' AS BATCH <n>
  * }}}
  *
  * Every `'<table dir>'` slot also accepts a BARE CATALOG IDENTIFIER
  * (`[db.]name`) naming a `CREATE TABLE … USING graft` registration —
  * `GRAFT OPTIMIZE my_table` resolves the identifier to the table's
  * pinned path through the session catalog (graft-provider tables
  * only, refused loudly otherwise), so the SQL-first user never
  * handles raw directories once the table is registered.
  *
  * Anything not starting with the `GRAFT` keyword goes verbatim to the
  * delegate parser — the extension can never change the meaning of
  * standard SQL. Each command compiles to a `LeafRunnableCommand`
  * (driver-side control-plane work returning its audit rows), so the
  * SQL route shares every contract — crash windows, OCC, retention —
  * with the API route it delegates to; the grammar is a thin skin,
  * deliberately hand-parsed (six fixed productions, quoted paths, no
  * expression sub-language) rather than a second ANTLR grammar.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlCommands.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

private[plans] object GraftSqlCommands {

  // table reference: a 'single-quoted' path ('' = escaped quote, SQL
  // convention) OR a bare catalog identifier ([db.]name) naming a
  // table created with CREATE TABLE … USING graft — one capture group
  // either way, so every production's group numbering is unchanged
  private val P = "('(?:[^']|'')*'|[A-Za-z_][A-Za-z0-9_.]*)"

  /** Resolve a captured table reference to the table DIRECTORY: a
    * quoted token is the path itself (unescaped); a bare identifier
    * resolves through the session catalog — the table must be a
    * `USING graft` registration, and its pinned path option is the
    * directory. Resolution happens at PARSE time inside `spark.sql`
    * (the active session is the parsing session), so the commands
    * downstream stay pure path-takers.
    */
  private def unq(s: String): String =
    if (s.startsWith("'")) s.substring(1, s.length - 1).replace("''", "'")
    else {
      val spark = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .getOrElse(throw new IllegalArgumentException(
          s"GRAFT: cannot resolve table '$s' — no active Spark session"))
      // multipart names whose FIRST part is a registered graft
      // TableCatalog resolve through it (identifier IS the directory
      // under the catalog's warehouse — no instance or metastore
      // needed); same precedence as Spark's own multipart resolution
      val parts = s.split("\\.").toSeq
      if (parts.length >= 2 && spark.conf
          .getOption(s"spark.sql.catalog.${parts.head}")
          .contains("graft.sources.GraftCatalog")) {
        val warehouse = spark.conf
          .getOption(s"spark.sql.catalog.${parts.head}.warehouse")
          .getOrElse(throw new IllegalArgumentException(
            s"GRAFT: catalog '${parts.head}' has no warehouse configured"))
        require(parts.tail.forall(p => p.nonEmpty && p != "." &&
          p != ".." && !p.contains("/") && !p.startsWith("_")),
          s"GRAFT: illegal identifier segment in '$s'")
        // existence/table-ness is the downstream command's check (it
        // refuses "not an upsert table (no _meta)" with the full path)
        return (warehouse +: parts.tail).mkString("/")
      }
      val ti = parts match {
        case Seq(t) => TableIdentifier(t)
        case Seq(db, t) => TableIdentifier(t, Some(db))
        case _ => throw new IllegalArgumentException(
          s"GRAFT: table reference '$s' has too many qualifier parts")
      }
      val meta = spark.sessionState.catalog.getTableMetadata(ti)
      require(meta.provider.exists(_.equalsIgnoreCase("graft")),
        s"GRAFT: table '$s' is not a graft table " +
          s"(provider: ${meta.provider.getOrElse("none")})")
      val raw = meta.storage.properties.get("path")
        .orElse(meta.storage.locationUri.map(_.toString))
        .getOrElse(throw new IllegalArgumentException(
          s"GRAFT: table '$s' has no path"))
      // the catalog qualifies the option to a URI; the default POSIX
      // store speaks plain paths (same normalization as the source)
      if (raw.startsWith("file:"))
        Option(new java.net.URI(raw).getPath).filter(_.nonEmpty)
          .getOrElse(raw.stripPrefix("file:"))
      else raw
    }

  private val History =
    s"""(?is)\\s*GRAFT\\s+DESCRIBE\\s+HISTORY\\s+$P\\s*;?\\s*""".r
  private val Stats =
    s"""(?is)\\s*GRAFT\\s+DESCRIBE\\s+STATS\\s+$P\\s*;?\\s*""".r
  private val Maintenance =
    s"""(?is)\\s*GRAFT\\s+MAINTENANCE\\s+$P(?:\\s+KEEP\\s+(\\d+)\\s+VERSIONS)?\\s*;?\\s*""".r
  private val Detail =
    s"""(?is)\\s*GRAFT\\s+DESCRIBE\\s+DETAIL\\s+$P\\s*;?\\s*""".r
  private val Restore =
    s"""(?is)\\s*GRAFT\\s+RESTORE\\s+$P\\s+TO\\s+BATCH\\s+(\\d+)(?:\\s+KEEP\\s+(\\d+)\\s+VERSIONS)?\\s*;?\\s*""".r
  private val Clone =
    s"""(?is)\\s*GRAFT\\s+CLONE\\s+$P\\s+TO\\s+$P\\s*;?\\s*""".r
  private val Branch =
    s"""(?is)\\s*GRAFT\\s+BRANCH\\s+$P\\s+TO\\s+$P\\s*;?\\s*""".r
  private val Publish =
    s"""(?is)\\s*GRAFT\\s+PUBLISH\\s+$P(?:\\s+KEEP\\s+(\\d+)\\s+VERSIONS)?(\\s+FORCE)?\\s*;?\\s*""".r
  private val Delete =
    s"""(?is)\\s*GRAFT\\s+DELETE\\s+$P(?:\\s+KEEP\\s+(\\d+)\\s+VERSIONS)?\\s+WHERE\\s+(.+?)\\s*;?\\s*""".r
  private val Update =
    s"""(?is)\\s*GRAFT\\s+UPDATE\\s+$P(?:\\s+KEEP\\s+(\\d+)\\s+VERSIONS)?\\s+SET\\s+(.+?)\\s+WHERE\\s+(.+?)\\s*;?\\s*""".r
  private val Upsert =
    (s"""(?is)\\s*GRAFT\\s+UPSERT\\s+$P(?:\\s+KEYS\\s+([\\w`]+(?:\\s*,\\s*[\\w`]+)*))?""" +
      s"""(?:\\s+BUCKETS\\s+(\\d+))?(?:\\s+DELETE\\s+COL\\s+([\\w`]+))?""" +
      s"""(?:\\s+KEEP\\s+(\\d+)\\s+VERSIONS)?\\s+FROM\\s+(.+?)\\s*;?\\s*""").r
  // MERGE is the one production whose source query can itself contain
  // parentheses and keywords, so the head is a regex and the rest is a
  // tiny scanner: USING's argument is the balanced-paren span (quote-
  // aware), then WHEN clauses split on the `WHEN [NOT] MATCHED`
  // boundary (a CASE's WHEN is never followed by MATCHED)
  private val MergeHead =
    s"""(?is)\\s*GRAFT\\s+MERGE\\s+$P(?:\\s+KEEP\\s+(\\d+)\\s+VERSIONS)?\\s+USING\\s*\\(""".r
  private val WBySrcUpd =
    """(?is)\s*WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+))?\s+THEN\s+UPDATE\s+SET\s+(.+?)\s*;?\s*""".r
  private val WBySrcDel =
    """(?is)\s*WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+))?\s+THEN\s+DELETE\s*;?\s*""".r
  private val WInsert =
    """(?is)\s*WHEN\s+NOT\s+MATCHED(?:\s+AND\s+(.+))?\s+THEN\s+INSERT\s*;?\s*""".r
  private val WUpd =
    """(?is)\s*WHEN\s+MATCHED(?:\s+AND\s+(.+))?\s+THEN\s+UPDATE\s+SET\s+(.+?)\s*;?\s*""".r
  private val WDel =
    """(?is)\s*WHEN\s+MATCHED(?:\s+AND\s+(.+))?\s+THEN\s+DELETE\s*;?\s*""".r

  private val AlterAddCons =
    s"""(?is)\\s*GRAFT\\s+ALTER\\s+$P\\s+ADD\\s+CONSTRAINT\\s+([\\w.-]+)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*""".r
  private val AlterDropCons =
    s"""(?is)\\s*GRAFT\\s+ALTER\\s+$P\\s+DROP\\s+CONSTRAINT\\s+([\\w.-]+)\\s*;?\\s*""".r
  private val AlterRename =
    s"""(?is)\\s*GRAFT\\s+ALTER\\s+$P\\s+RENAME\\s+COLUMN\\s+([\\w`]+)\\s+TO\\s+([\\w`]+)\\s*;?\\s*""".r
  private val AlterDrop =
    s"""(?is)\\s*GRAFT\\s+ALTER\\s+$P\\s+DROP\\s+COLUMN\\s+([\\w`]+)\\s*;?\\s*""".r
  private val Optimize =
    s"""(?is)\\s*GRAFT\\s+OPTIMIZE\\s+$P(?:\\s+ZORDER\\s+BY\\s+([\\w`]+(?:\\s*,\\s*[\\w`]+)*))?(\\s+PURGE\\s+COLUMNS)?\\s*;?\\s*""".r
  private val Compact =
    s"""(?is)\\s*GRAFT\\s+COMPACT\\s+$P(?:\\s+OVER\\s+(\\d+)\\s+FILES)?\\s*;?\\s*""".r
  private val Rebucket =
    s"""(?is)\\s*GRAFT\\s+REBUCKET\\s+$P\\s+TO\\s+(\\d+)\\s+BUCKETS\\s*;?\\s*""".r
  private val Vacuum =
    (s"""(?is)\\s*GRAFT\\s+VACUUM\\s+$P\\s+KEEP\\s+(\\d+)\\s+VERSIONS""" +
      s"""(?:\\s+GRACE\\s+(\\d+)\\s+MS)?""" +
      s"""(?:\\s+QUARANTINE\\s+KEEP\\s+(\\d+)\\s+BATCHES)?\\s*;?\\s*""").r
  private val TagCreate =
    s"""(?is)\\s*GRAFT\\s+TAG\\s+$P\\s+CREATE\\s+([A-Za-z0-9._-]+)\\s+AT\\s+BATCH\\s+(\\d+)\\s*;?\\s*""".r
  private val TagDrop =
    s"""(?is)\\s*GRAFT\\s+TAG\\s+$P\\s+DROP\\s+([A-Za-z0-9._-]+)\\s*;?\\s*""".r
  private val Tags =
    s"""(?is)\\s*GRAFT\\s+TAGS\\s+$P\\s*;?\\s*""".r
  // PRUNE/REQUEUE must be tried before the summary form — all start
  // with "GRAFT QUARANTINE", the summary's path quote disambiguates
  private val QuarantinePrune =
    s"""(?is)\\s*GRAFT\\s+QUARANTINE\\s+PRUNE\\s+$P\\s+KEEP\\s+(\\d+)\\s+BATCHES\\s*;?\\s*""".r
  private val QuarantineRequeue =
    s"""(?is)\\s*GRAFT\\s+QUARANTINE\\s+REQUEUE\\s+$P\\s+AS\\s+BATCH\\s+(\\d+)\\s*;?\\s*""".r
  private val Quarantine =
    s"""(?is)\\s*GRAFT\\s+QUARANTINE\\s+$P\\s*;?\\s*""".r

  def parse(sql: String): Option[LogicalPlan] = sql match {
    case History(d) => Some(HistoryCommand(unq(d)))
    case Stats(d) => Some(DescribeStatsCommand(unq(d)))
    case Maintenance(d, k) => Some(MaintenanceCommand(unq(d),
      Option(k).map(_.toInt).getOrElse(4)))
    case Detail(d) => Some(DetailCommand(unq(d)))
    case Restore(d, b, k) => Some(RestoreCommand(unq(d), b.toLong,
      Option(k).map(_.toInt).getOrElse(2)))
    case Clone(s, d) => Some(CloneCommand(unq(s), unq(d)))
    case Branch(s, d) => Some(BranchCommand(unq(s), unq(d)))
    case Publish(d, k, f) => Some(PublishCommand(unq(d),
      Option(k).map(_.toInt).getOrElse(2), f != null))
    case Delete(d, k, w) => Some(DeleteCommand(unq(d),
      Option(k).map(_.toInt).getOrElse(2), w))
    case Update(d, k, s, w) => Some(UpdateCommand(unq(d),
      Option(k).map(_.toInt).getOrElse(2), splitAssignments(s), w))
    case Upsert(d, ks, b, dc, k, src) => Some(UpsertCommand(unq(d),
      Option(ks).toSeq.flatMap(_.split(",").map(
        _.trim.stripPrefix("`").stripSuffix("`")).toSeq),
      Option(b).map(_.toInt).getOrElse(16),
      Option(dc).map(_.stripPrefix("`").stripSuffix("`")),
      Option(k).map(_.toInt).getOrElse(2), src))
    case AlterAddCons(d, n, e) =>
      Some(AlterConstraintCommand(unq(d), n, Some(e.trim)))
    case AlterDropCons(d, n) =>
      Some(AlterConstraintCommand(unq(d), n, None))
    case AlterRename(d, from, to) => Some(AlterColumnCommand(unq(d),
      from.stripPrefix("`").stripSuffix("`"),
      Some(to.stripPrefix("`").stripSuffix("`"))))
    case AlterDrop(d, c) => Some(AlterColumnCommand(unq(d),
      c.stripPrefix("`").stripSuffix("`"), None))
    case Optimize(d, z, pg) => Some(OptimizeCommand(unq(d),
      Option(z).toSeq.flatMap(_.split(",").map(
        _.trim.stripPrefix("`").stripSuffix("`")).toSeq),
      purgeColumns = pg != null))
    case Compact(d, n) => Some(CompactCommand(unq(d),
      Option(n).map(_.toInt).getOrElse(4)))
    case Rebucket(d, n) => Some(RebucketCommand(unq(d), n.toInt))
    case Vacuum(d, k, g, qk) => Some(VacuumCommand(unq(d), k.toInt,
      Option(g).map(_.toLong).getOrElse(0L),
      Option(qk).map(_.toInt)))
    case TagCreate(d, n, b) => Some(TagCreateCommand(unq(d), n, b.toLong))
    case TagDrop(d, n) => Some(TagDropCommand(unq(d), n))
    case Tags(d) => Some(TagsCommand(unq(d)))
    case QuarantinePrune(d, k) =>
      Some(QuarantinePruneCommand(unq(d), k.toInt))
    case QuarantineRequeue(d, b) =>
      Some(QuarantineRequeueCommand(unq(d), b.toLong))
    case Quarantine(d) => Some(QuarantineViewCommand(unq(d)))
    case _ => parseMerge(sql)
  }

  /** `GRAFT MERGE '<dir>' [KEEP <k> VERSIONS] USING (<query>) WHEN …`
    * — head by regex, source by the balanced-paren scan, clauses by
    * the WHEN-boundary split. A matched head with malformed clauses
    * fails HERE with a MERGE-specific message (falling through to the
    * delegate would produce a baffling ANSI-MERGE error about a
    * quoted-path "table name").
    */
  private def parseMerge(sql: String): Option[LogicalPlan] =
    MergeHead.findPrefixMatchOf(sql).map { m =>
      val dir = unq(m.group(1))
      val keep = Option(m.group(2)).map(_.toInt).getOrElse(2)
      val (source, tail) = balancedParen(sql.substring(m.end - 1))
      MergeIntoCommand(dir, keep, source, splitWhens(tail))
    }

  /** `rest` starts at '('; return (inner text, remainder after the
    * matching ')'). Single-quoted strings (with '' escapes) and
    * double-quoted identifiers are opaque to the depth count.
    */
  private def balancedParen(rest: String): (String, String) = {
    var depth = 0
    var i = 0
    var quote: Char = 0
    while (i < rest.length) {
      val c = rest.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0)
            return (rest.substring(1, i), rest.substring(i + 1))
        case _ => ()
      }
      i += 1
    }
    throw new IllegalArgumentException(
      "GRAFT MERGE: unbalanced parentheses in USING (<query>)")
  }

  private def splitWhens(tail: String): Seq[Ingest.MergeClause] = {
    val parts = tail.split("(?i)(?=\\bWHEN\\s+(?:NOT\\s+)?MATCHED\\b)")
    require(parts.nonEmpty && parts.head.trim.isEmpty,
      s"GRAFT MERGE: expected WHEN clauses after USING (…), got " +
        s"'${parts.headOption.map(_.trim).getOrElse("")}'")
    val clauses = parts.tail.toSeq.map {
      case WBySrcUpd(c, set) =>
        Ingest.NotMatchedBySourceUpdate(Option(c), splitAssignments(set))
      case WBySrcDel(c) => Ingest.NotMatchedBySourceDelete(Option(c))
      case WInsert(c) => Ingest.NotMatchedInsert(Option(c))
      case WUpd(c, set) =>
        Ingest.MatchedUpdate(Option(c), splitAssignments(set))
      case WDel(c) => Ingest.MatchedDelete(Option(c))
      case other => throw new IllegalArgumentException(
        s"GRAFT MERGE: malformed WHEN clause '${other.trim}'")
    }
    require(clauses.nonEmpty, "GRAFT MERGE: no WHEN clauses")
    clauses
  }

  private def attr(n: String, t: org.apache.spark.sql.types.DataType,
                   nullable: Boolean = false): AttributeReference =
    AttributeReference(n, t, nullable)()

  /** Split an UPDATE's SET clause into (column, expression) pairs:
    * top-level commas separate assignments (commas inside parens,
    * brackets, or quoted strings belong to the expression), and the
    * FIRST '=' of each assignment separates column from expression
    * (later '='s are the expression's own comparisons).
    */
  private[plans] def splitAssignments(s: String): Seq[(String, String)] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    s.foreach { ch =>
      if (quote != 0) { cur += ch; if (ch == quote) quote = 0 }
      else ch match {
        case '\'' | '"' | '`' => quote = ch; cur += ch
        case '(' | '[' => depth += 1; cur += ch
        case ')' | ']' => depth -= 1; cur += ch
        case ',' if depth == 0 => parts += cur.result(); cur.clear()
        case _ => cur += ch
      }
    }
    if (cur.nonEmpty) parts += cur.result()
    parts.toSeq.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"GRAFT UPDATE: malformed assignment '$a' " +
        "(expected column = expression)")
      (a.take(i).trim.stripPrefix("`").stripSuffix("`"), a.drop(i + 1).trim)
    }
  }

  /** `GRAFT DESCRIBE HISTORY` — the same rows as
    * [[Ingest.describeUpsertTable]].
    */
  /** `GRAFT TAG '<dir>' CREATE <name> AT BATCH <n>` — named snapshot
    * ref with a retention pin ([[Ingest.createTag]]); returns the
    * RESOLVED pinned batch (an empty batch pins the version serving
    * it).
    */
  final case class TagCreateCommand(dir: String, name: String, atBatch: Long)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("tag", StringType), attr("pinned_batch", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Seq(Row(name, Ingest.createTag(dir, name, atBatch)))
    }
  }

  /** `GRAFT TAG '<dir>' DROP <name>` — releases the pin (idempotent). */
  final case class TagDropCommand(dir: String, name: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("dropped", StringType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.dropTag(dir, name)
      Seq(Row(name))
    }
  }

  /** `GRAFT TAGS '<dir>'` — live tags in creation order. */
  final case class TagsCommand(dir: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("tag", StringType), attr("batch_id", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.listTags(dir).map { case (n, b) => Row(n, b) }
    }
  }

  /** `GRAFT QUARANTINE '<dir>'` — the dead-letter SUMMARY (batch ×
    * broken constraint × row count): the monitoring view an operator
    * alerts on. Full dead-letter rows (table-dependent schema) come
    * from [[Ingest.readQuarantine]] / a registered view.
    */
  final case class QuarantineViewCommand(dir: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("batch_id", LongType), attr("constraint", StringType),
      attr("rows", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      import org.apache.spark.sql.functions.{col, explode}
      Ingest.readQuarantine(spark, dir)
        .select(col(Ingest.QuarantineBatchCol).as("batch_id"),
          explode(col(Ingest.QuarantineReasonCol)).as("constraint"))
        .groupBy("batch_id", "constraint").count()
        .orderBy("batch_id", "constraint")
        .collect().map(r => Row(r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq
    }
  }

  /** `GRAFT QUARANTINE PRUNE '<dir>' KEEP <n> BATCHES` — dead-letter
    * retention ([[Ingest.pruneQuarantine]]): retires committed
    * quarantine dirs beyond the n most recent batches and sweeps
    * orphaned never-committed dirs; returns the vacuum-style audit
    * rows.
    */
  final case class QuarantinePruneCommand(dir: String, keepBatches: Int)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("kind", StringType), attr("name", StringType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.pruneQuarantine(dir, Some(keepBatches))
        .map { case (k, n) => Row(k, n) }
    }
  }

  /** `GRAFT QUARANTINE REQUEUE '<dir>' AS BATCH <n>` — re-ingest the
    * dead letters verbatim as one committed batch through the pinned
    * constraint screen ([[Ingest.requeueQuarantine]]); rows still
    * violating re-divert into `b_<n>`. SQL requeues AS-IS — a data fix
    * needs the API's `fix` transform (or a GRAFT UPDATE after the
    * requeue).
    */
  final case class QuarantineRequeueCommand(dir: String, asBatch: Long)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("healed", LongType), attr("rediverted", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      val (h, r) = Ingest.requeueQuarantine(spark, dir, asBatch)
      Seq(Row(h, r))
    }
  }

  final case class HistoryCommand(dir: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("batch_id", LongType), attr("retained", BooleanType),
      attr("row_count", LongType), attr("is_current", BooleanType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.describeUpsertTable(spark, dir)
        .orderBy("batch_id").collect().toSeq
    }
  }

  /** `GRAFT DESCRIBE DETAIL` — one control-plane-only row
    * ([[Ingest.describeDetailUpsertTable]]); schema is the API frame's.
    */
  final case class DetailCommand(dir: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("keys", StringType), attr("buckets",
        org.apache.spark.sql.types.IntegerType),
      attr("sort_cols", StringType, nullable = true),
      attr("files_per_bucket", org.apache.spark.sql.types.IntegerType),
      attr("current_batch", LongType), attr("generation", LongType),
      attr("committed_batches", LongType), attr("retained_versions", LongType),
      attr("data_files", LongType), attr("change_feed", BooleanType),
      attr("constraints", LongType), attr("pending_delete_vector", BooleanType),
      attr("is_branch", BooleanType), attr("branch_base", LongType,
        nullable = true),
      attr("tags", LongType), attr("quarantined_batches", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.describeDetailUpsertTable(spark, dir).collect().toSeq
    }
  }

  final case class RestoreCommand(dir: String, toBatch: Long, keep: Int)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("restored_as_batch", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Seq(Row(Ingest.restoreUpsertTable(spark, dir, toBatch,
        keepVersions = keep)))
    }
  }

  final case class CloneCommand(src: String, dst: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("cloned_to", StringType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.cloneUpsertTable(spark, src, dst)
      Seq(Row(dst))
    }
  }

  /** `GRAFT BRANCH '<src>' TO '<branch>'` — WAP fork; returns the base
    * batch the branch can later be published against.
    */
  final case class BranchCommand(src: String, dst: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("branched_to", StringType), attr("base_batch", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Seq(Row(dst, Ingest.branchUpsertTable(spark, src, dst)))
    }
  }

  /** `GRAFT PUBLISH '<branch>' [KEEP <k> VERSIONS] [FORCE]` — applies
    * the audited branch diff to the source as one committed batch;
    * NULL `published_batch` = the source already equals the branch.
    */
  final case class PublishCommand(dir: String, keep: Int, force: Boolean)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("published_batch", LongType, nullable = true))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Seq(Row(Ingest.publishUpsertTable(spark, dir, keepVersions = keep,
        force = force).map(java.lang.Long.valueOf).orNull))
    }
  }

  /** `GRAFT DELETE '<dir>' WHERE <pred>` — row-level DML through the
    * sink; NULL batch = nothing matched, nothing minted.
    */
  final case class DeleteCommand(dir: String, keep: Int, predicate: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("batch_id", LongType, nullable = true),
      attr("rows_deleted", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.deleteWhere(spark, dir, predicate, keepVersions = keep) match {
        case Some((b, n)) => Seq(Row(b, n))
        case None => Seq(Row(null, 0L))
      }
    }
  }

  /** `GRAFT UPDATE '<dir>' SET c = e, … WHERE <pred>` — row-level DML
    * through the sink; no-op assignments mint nothing (NULL batch).
    */
  final case class UpdateCommand(dir: String, keep: Int,
                                 set: Seq[(String, String)], predicate: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("batch_id", LongType, nullable = true),
      attr("rows_updated", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.updateWhere(spark, dir, set, predicate, keepVersions = keep) match {
        case Some((b, n)) => Seq(Row(b, n))
        case None => Seq(Row(null, 0L))
      }
    }
  }

  /** `GRAFT UPSERT '<dir>' … FROM <query>` — MERGE the query's rows as
    * the table's next committed batch (creating the table when KEYS
    * are given and the dir is fresh). The source query text re-enters
    * `spark.sql` in run(), so it parses with the full delegate grammar
    * — subqueries, joins, CTEs — not this extension's thin regex.
    */
  final case class UpsertCommand(dir: String, keys: Seq[String], buckets: Int,
                                 deleteCol: Option[String], keep: Int,
                                 sourceSql: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("batch_id", LongType), attr("rows_merged", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      val (b, n) = Ingest.upsertInto(spark, dir, spark.sql(sourceSql),
        keys = keys, nBuckets = buckets, deleteCol = deleteCol,
        keepVersions = keep)
      Seq(Row(b, n))
    }
  }

  /** `GRAFT DESCRIBE STATS '<dir>'` — the metadata-aggregation surface
    * ([[Ingest.countWhere]] with no bounds + [[Ingest.minMaxMeta]], both
    * answered from the current version's manifest as loaded by
    * [[graft.sources.StatsManifest.load]]) as one SQL row: exact row count, file count, whether the count came
    * from metadata alone (false under a pending deletion vector or a
    * manifest-less table — the sound degradation), and the sort
    * columns' min/max ranges rendered as text (schema-stable however
    * many stats columns the table pins).
    */
  final case class DescribeStatsCommand(dir: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("n_rows", LongType),
      attr("data_files", LongType),
      attr("metadata_only", BooleanType),
      attr("ranges", StringType, nullable = true))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      val mc = Ingest.countWhere(spark, dir)
      val ranges = Ingest.minMaxMeta(spark, dir).map { df =>
        val r = df.head()
        df.columns.grouped(2).map { pair =>
          val c = pair.head.stripPrefix("min_")
          s"$c: [${r.get(r.fieldIndex(pair.head))} .. " +
            s"${r.get(r.fieldIndex(pair(1)))}]"
        }.mkString(", ")
      }
      Seq(Row(mc.count, mc.totalFiles, mc.scannedFiles == 0L,
        ranges.orNull))
    }
  }

  /** `GRAFT MAINTENANCE '<dir>' [KEEP k VERSIONS]` — the advisor
    * ([[Ingest.maintenancePlan]]): one row per recommended op with the
    * ready-to-run GRAFT statement; zero rows = nothing to do (running
    * the emitted commands converges here).
    */
  final case class MaintenanceCommand(dir: String, keep: Int)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("action", StringType), attr("target", StringType),
      attr("reason", StringType), attr("command", StringType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.maintenancePlan(spark, dir, keepVersions = keep)
        .collect().toSeq // bounded: one row per recommendation class
    }
  }

  /** `GRAFT ALTER '<dir>' ADD CONSTRAINT n CHECK (expr)` /
    * `DROP CONSTRAINT n` — pinned-CHECK evolution: ADD pays one full
    * validation scan of the current snapshot and refuses when any live
    * row violates ([[Ingest.addTableConstraint]]); DROP is
    * metadata-only.
    */
  final case class AlterConstraintCommand(dir: String, name: String,
                                          addCheck: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("altered", StringType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      addCheck match {
        case Some(e) =>
          Ingest.addTableConstraint(spark, dir, name, e)
          Seq(Row(s"added constraint $name"))
        case None =>
          Ingest.dropTableConstraint(dir, name)
          Seq(Row(s"dropped constraint $name"))
      }
    }
  }

  /** `GRAFT ALTER '<dir>' RENAME COLUMN a TO b` / `DROP COLUMN a` —
    * metadata-only schema surgery through the `_colmap` layer
    * ([[Ingest.renameColumn]] / [[Ingest.dropColumn]]): zero data I/O,
    * the ALTER TABLE cost model a 100-TB table requires.
    */
  final case class AlterColumnCommand(dir: String, column: String,
                                      renameTo: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("altered", StringType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      renameTo match {
        case Some(to) =>
          Ingest.renameColumn(dir, column, to)
          Seq(Row(s"renamed $column to $to"))
        case None =>
          Ingest.dropColumn(dir, column)
          Seq(Row(s"dropped $column"))
      }
    }
  }

  /** `GRAFT MERGE '<dir>' USING (<query>) WHEN …` — ANSI-shaped
    * multi-WHEN MERGE through [[Ingest.mergeInto]]; the source query
    * re-enters `spark.sql` in run() so it parses with the full
    * delegate grammar. An entirely-untouched merge returns a NULL
    * batch id, mirroring UPDATE/DELETE's no-op contract.
    */
  final case class MergeIntoCommand(dir: String, keep: Int,
                                    sourceSql: String,
                                    clauses: Seq[Ingest.MergeClause])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("batch_id", LongType, nullable = true),
      attr("rows_merged", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.mergeInto(spark, dir, spark.sql(sourceSql), clauses,
        keepVersions = keep) match {
        case Some((b, n)) => Seq(Row(b, n))
        case None => Seq(Row(null, 0L))
      }
    }
  }

  /** `GRAFT OPTIMIZE '<dir>' [ZORDER BY c1, c2[, c3]]` — full
    * generation rewrite; with ZORDER BY, the rewrite clusters each
    * bucket along the Morton curve over the pinned stats columns
    * ([[Ingest.optimizeUpsertTableZorder]]).
    */
  final case class OptimizeCommand(dir: String,
                                   zorderBy: Seq[String] = Nil,
                                   purgeColumns: Boolean = false)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("optimized", StringType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      require(zorderBy.isEmpty || !purgeColumns,
        "GRAFT OPTIMIZE: ZORDER BY and PURGE COLUMNS are separate passes")
      if (zorderBy.nonEmpty)
        Ingest.optimizeUpsertTableZorder(spark, dir, zorderBy)
      else Ingest.optimizeUpsertTable(spark, dir,
        purgeColumns = purgeColumns)
      Seq(Row(dir))
    }
  }

  /** `GRAFT COMPACT '<dir>' [OVER <n> FILES]` — selective compaction;
    * one row per rewritten bucket (no rows = nothing needed doing).
    */
  final case class CompactCommand(dir: String, filesOver: Int)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("rewritten_bucket", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.compactUpsertTable(spark, dir, filesOver)
        .map(b => Row(b.toLong))
    }
  }

  final case class RebucketCommand(dir: String, buckets: Int)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(attr("rebucketed_to", LongType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.rebucketUpsertTable(spark, dir, buckets)
      Seq(Row(buckets.toLong))
    }
  }

  /** `GRAFT VACUUM … [QUARANTINE KEEP <n> BATCHES]` — returns the
    * audit rows the API returns (version/feed/quarantine/scratch
    * sweeps in one pass).
    */
  final case class VacuumCommand(dir: String, keep: Int, graceMs: Long,
                                 quarantineKeep: Option[Int] = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      attr("kind", StringType), attr("name", StringType))
    override def run(spark: SparkSession): Seq[Row] = {
      implicit val store: TableStore = TableStore.local
      Ingest.vacuumUpsertTable(spark, dir, keepVersions = keep,
        graceMs = graceMs, quarantineKeepBatches = quarantineKeep)
        .collect().toSeq
    }
  }
}
