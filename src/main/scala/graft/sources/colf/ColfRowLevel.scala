package graft.sources.colf

import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation,
  RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operations: the DSv2 machinery
  * behind SQL `MERGE INTO`, `UPDATE`, and arbitrary-predicate
  * `DELETE FROM` on colf tables — the full DML surface, reachable through
  * [[ColfCatalog]] path identifiers.
  *
  * The format's mutation granule is the FILE (one block per column, no
  * row groups), so Spark's GROUP-based rewrite is the natural fit: the
  * operation's scan reads the affected groups, the rewritten query emits
  * every surviving row of those groups (modified + untouched alike), and
  * the write commit atomically swaps the scanned files for the new ones.
  * The correctness invariant is REPLACED == SCANNED, enforced by
  * capturing the scan's final planned file set at `planInputPartitions`
  * time and handing the write that exact set ([[ColfWrite]] fails loudly
  * if it commits before the scan planned).
  *
  * Scale shape — why whole-table DML doesn't rewrite the whole table:
  *
  *  - Spark's runtime group filtering (the same DPP channel the batch
  *    scan already serves) computes the distinct join/condition values of
  *    the MATCHING rows and hands them to the scan as `In` filters; the
  *    scan's two-tier pruning (exact partition values, then header
  *    min/max + Bloom) drops every file provably free of affected rows —
  *    those files are neither read nor rewritten. On a partitioned table
  *    a MERGE against one day touches that day's files; on an
  *    unpartitioned clustered table the Bloom/min-max tier still bites.
  *  - Static pushdown is deliberately NOT offered by the row-level scan
  *    builder: a statically-pruned file would silently leave the scanned
  *    set (and thus survive replacement) even when Spark pushed a
  *    remaining-rows filter like `NOT cond` whose matching files must
  *    still be REWRITTEN — group selection belongs exclusively to the
  *    runtime channel, whose contract is exactly "groups that may
  *    contain affected rows".
  *
  * Versioned tables get an atomic manifest flip (readers never observe a
  * half-replaced state, old snapshots stay time-travelable); unversioned
  * tables follow the writer's deferred-delete contract (crash ⇒ superset
  * visible, never a partial table).
  */
class ColfRowLevelOperation(paths: Seq[String], fullSchema: StructType,
    layoutPartitionCols: Seq[String], info: RowLevelOperationInfo,
    names: ColfNames = ColfNames.Identity, missingAsNull: Boolean = false)
    extends RowLevelOperation {
  // `fullSchema` and `layoutPartitionCols` arrive LOGICAL here (Spark
  // resolves the rewrite plan against them); the scan/write below
  // translate to physical at their boundaries, like the batch paths.

  /** The operation's scan publishes its final planned file set here; the
    * write's commit consumes it. Both run on the driver within one
    * ReplaceData job (plan before commit), so a plain volatile field is
    * the whole protocol.
    */
  @volatile private[colf] var scannedRefs: Seq[ColfFileRef] = null

  override def command(): RowLevelOperation.Command = info.command()

  override def description(): String =
    s"colf row-level ${info.command()} on ${paths.mkString(",")}"

  /** Requesting `_file` routes the write through Spark's
    * data+metadata task — the DataWriter then receives PROJECTED data
    * rows (Spark 4.1's plain-data task hands the raw rewrite rows,
    * operation column included, to the writer) — and makes `_file` the
    * runtime group-filter attribute, so group selection is exact file
    * selection.
    */
  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(ColfUtil.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      // Column pruning only — static FILTER pushdown is deliberately not
      // offered (see class doc): the scan reads full rows of whatever
      // groups survive runtime group filtering.
      private var required: StructType = fullSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan =
        new ColfRowLevelScan(ColfRowLevelOperation.this, paths,
          names.physSchema(fullSchema), names.physSchema(required), names,
          missingAsNull)
    }

  override def newWriteBuilder(lwi: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        require(paths.size == 1,
          s"colf row-level write requires exactly one table path, got $paths")
        ColfUtil.colfFields(lwi.schema())
        new ColfWrite(paths.head, names.physSchema(lwi.schema()), lwi.queryId(), false,
          ColfWrite.DefaultMaxRowsPerFile, ColfWrite.DefaultMaxBytesPerFile,
          ColfCodec.DefaultCompressionLevel,
          partitionBy = layoutPartitionCols.map(names.phys),
          replaceScannedFn = () => scannedRefs,
          distPartitionBy = layoutPartitionCols)
      }
    }
}

/** The row-level read: a plain [[ColfScan]] over the latest table state
  * (full schema, no static filters, no limit) that RECORDS its final
  * planned file set — post runtime group filtering — into the owning
  * operation. Inherits the batch scan's runtime-filter pruning tiers and
  * its `SupportsRuntimeFiltering` surface, which is what lets Spark's
  * group-filter rule target it.
  */
private[colf] class ColfRowLevelScan(op: ColfRowLevelOperation,
    paths: Seq[String], fullSchema: StructType, required: StructType,
    names: ColfNames = ColfNames.Identity, missingAsNull: Boolean = false)
    extends ColfScan(paths, fullSchema, required, mergeSchema = missingAsNull,
      names = names) {

  /** Group filtering targets `_file` alone: the matching-rows subquery
    * projects the files containing affected rows and the scan receives
    * `In(_file, ...)` — exact group selection, no value-domain guessing.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(ColfUtil.FileMetaCol))

  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val refs = plannedRefs
    op.scannedRefs = refs
    // packed, not spread: each partition becomes one rewritten file
    ColfUtil.binPack(refs, spread = false)
  }

  override def description(): String =
    super.description() + " (row-level: planned files become the replaced groups)"
}
