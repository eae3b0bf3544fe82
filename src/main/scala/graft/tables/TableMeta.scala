package graft.tables

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}

import GraftTable.{AddFile, KeyStats}

/** One commit's table metadata — the `{"meta":…}` line of a log file. Every
  * commit carries the full definition in force at its version (schema,
  * key, partitioning, column mapping, constraints, write policy, planner
  * statistics, protocol features), so time travel reads each version under
  * its own definition and `GraftTable.at` opens the latest one.
  *
  *   - `schemaJson` is the versioned schema, generated/identity/unique-key
  *     declarations included as field metadata.
  *   - `colmap` maps logical → PHYSICAL column names (non-identity entries
  *     only): physical names are what parquet files store and never change,
  *     so a rename is a metadata commit (the name-mode column-mapping design).
  *   - `retired` lists physical names DROP COLUMN retired: old files still
  *     hold their values, so no later column may bind them.
  *   - `bloom` (physical name → expected NDV), `sort` (physical names) and
  *     `ndv` (ANALYZE statistics, physical name → approx distinct count) are
  *     keyed physically so they survive renames.
  *   - `idHwm` is each identity column's furthest assigned value.
  *   - `readerFeatures` / `writerFeatures` are the protocol gate's sticky
  *     feature sets (see [[GraftTable.SupportedReaderFeatures]]).
  *   - `txn` is the exactly-once transaction id of an idempotent append,
  *     `dataChange = false` flags a layout-only commit (compact/optimize:
  *     rows unchanged, so change feeds skip it) and `branchPoint` is the
  *     main-table version a branch's create commit was cut at.
  */
private[tables] final case class TableMeta(
    op: String,
    ts: Long,
    keyCol: Option[String],
    schemaJson: String,
    partitionBy: Seq[String] = Nil,
    colmap: Map[String, String] = Map.empty,
    retired: Seq[String] = Nil,
    constraints: Map[String, String] = Map.empty,
    bloom: Map[String, Long] = Map.empty,
    sort: Seq[String] = Nil,
    ndv: Map[String, Long] = Map.empty,
    idHwm: Map[String, Long] = Map.empty,
    readerFeatures: Set[String] = Set.empty,
    writerFeatures: Set[String] = Set.empty,
    txn: Option[String] = None,
    dataChange: Boolean = true,
    branchPoint: Option[Long] = None) {

  lazy val schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** The physical (parquet) name of a logical column. */
  def physName(logical: String): String = colmap.getOrElse(logical, logical)

  /** A physical-name-keyed map re-keyed by the LIVE logical names (entries
    * of dropped columns are not surfaced).
    */
  def byLogical[V](m: Map[String, V]): Map[String, V] =
    schema.fieldNames.toSeq.flatMap(l => m.get(physName(l)).map(l -> _)).toMap

  /** The write-time sort order by logical name. */
  def logicalSort: Seq[String] = {
    val byPhys = schema.fieldNames.toIndexedSeq.map(l => physName(l) -> l).toMap
    sort.flatMap(byPhys.get)
  }

  /** Whether the definition (schema and column mapping) equals `o`'s — the
    * question every write retry and publish asks.
    */
  def sameLayout(o: TableMeta): Boolean = schemaJson == o.schemaJson && colmap == o.colmap

  /** The feature sets a commit of this state with these adds implies —
    * derived, never hand-maintained, so a new surface that forgets to
    * register here is caught by the derivation tests rather than silently
    * ungated.
    */
  def impliedFeatures(adds: Seq[AddFile]): (Set[String], Set[String]) = {
    val r = Set.newBuilder[String]
    val w = Set.newBuilder[String]
    if (adds.exists(_.dv.isDefined)) r += "deletion-vectors"
    if (colmap.nonEmpty) r += "column-mapping"
    if (retired.nonEmpty) w += "drop-columns"
    if (constraints.nonEmpty) w += "check-constraints"
    if (bloom.nonEmpty) w += "bloom-index"
    if (idHwm.nonEmpty) w += "identity-columns"
    if (sort.nonEmpty) w += "sort-order"
    if (partitionBy.exists(_.contains("("))) w += "partition-transforms"
    if (GraftTable.generatedOf(schema).nonEmpty) w += "generated-columns"
    if (GraftTable.identityOf(schema).nonEmpty) w += "identity-columns"
    if (schema.fields.exists(f => f.metadata.contains(GraftTable.KeyUniqueKey) &&
        f.metadata.getBoolean(GraftTable.KeyUniqueKey))) w += "unique-key"
    (r.result(), w.result())
  }

  /** The sticky feature gate: the carried sets plus what this commit implies. */
  def withFeatures(adds: Seq[AddFile]): TableMeta = {
    val (r, w) = impliedFeatures(adds)
    copy(readerFeatures = readerFeatures ++ r, writerFeatures = writerFeatures ++ w)
  }

  /** The `meta` object as the log stores it. Key order follows the Scala map
    * the fields are collected into, so the rendering is byte-stable; maps
    * whose order is not fixed by construction (bloom, idhwm, ndv) and the
    * feature sets are sorted.
    */
  def toJson: String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("op", op)
    m.put("ts", ts)
    m.put("keyCol", keyCol.orNull)
    m.put("schema", schemaJson)
    txn.foreach(m.put("txn", _))
    if (partitionBy.nonEmpty)
      // transform specs contain commas ("bucket(8,k)") — they ride a JSON
      // list; identity-only tables keep the legacy comma-string encoding
      m.put("partitionBy",
        if (partitionBy.exists(_.contains("("))) partitionBy.asJava
        else partitionBy.mkString(","))
    if (colmap.nonEmpty) m.put("colmap", ordered(colmap.toSeq))
    if (retired.nonEmpty) m.put("retired", retired.asJava)
    if (constraints.nonEmpty) m.put("constraints", ordered(constraints.toSeq))
    if (bloom.nonEmpty) m.put("bloom", ordered(bloom.toSeq.sortBy(_._1)))
    if (idHwm.nonEmpty) m.put("idhwm", ordered(idHwm.toSeq.sortBy(_._1)))
    if (ndv.nonEmpty) m.put("ndv", ordered(ndv.toSeq.sortBy(_._1)))
    if (sort.nonEmpty) m.put("sort", sort.asJava)
    if (!dataChange) m.put("dataChange", false)
    if (readerFeatures.nonEmpty) m.put("readerFeatures", readerFeatures.toSeq.sorted.asJava)
    if (writerFeatures.nonEmpty) m.put("writerFeatures", writerFeatures.toSeq.sorted.asJava)
    val fields = m.asScala.toMap
    GraftLog.mapper.writeValueAsString(
      branchPoint.fold(fields)(bp => fields ++ Map("branchPoint" -> bp)).asJava)
  }

  private def ordered(kvs: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val j = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => j.put(k, v) }
    j
  }
}

private[tables] object TableMeta {

  /** Decode a `meta` object as read from the log. Absent fields take their
    * defaults, so logs written before a field existed read unchanged.
    */
  def parse(m: java.util.Map[String, Object]): TableMeta = {
    def str(k: String): Option[String] = Option(m.get(k)).map(_.toString)
    def strs(k: String): Seq[String] = m.get(k) match {
      case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
      case _ => Nil
    }
    def strMap(k: String): Map[String, String] = m.get(k) match {
      case j: java.util.Map[_, _] =>
        j.asScala.map { case (a, b) => a.toString -> b.toString }.toMap
      case _ => Map.empty
    }
    def longMap(k: String): Map[String, Long] = m.get(k) match {
      case j: java.util.Map[_, _] =>
        j.asScala.map { case (a, b) => a.toString -> b.asInstanceOf[Number].longValue }.toMap
      case _ => Map.empty
    }
    def long(k: String): Option[Long] = Option(m.get(k)).map(_.asInstanceOf[Number].longValue)
    TableMeta(
      op = str("op").getOrElse("?"),
      ts = long("ts").getOrElse(0L),
      keyCol = str("keyCol").filter(_.nonEmpty),
      schemaJson = str("schema").getOrElse(
        throw new IllegalStateException("commit metadata has no schema")),
      partitionBy = m.get("partitionBy") match {
        case l: java.util.List[_] => l.asScala.toSeq.map(_.toString)
        case s: String if s.nonEmpty => s.split(",").toSeq
        case _ => Nil
      },
      colmap = strMap("colmap"),
      retired = strs("retired"),
      constraints = strMap("constraints"),
      bloom = longMap("bloom"),
      sort = strs("sort"),
      ndv = longMap("ndv"),
      idHwm = longMap("idhwm"),
      readerFeatures = strs("readerFeatures").toSet,
      writerFeatures = strs("writerFeatures").toSet,
      txn = str("txn"),
      dataChange = m.get("dataChange") != java.lang.Boolean.FALSE,
      branchPoint = long("branchPoint"))
  }
}
