package graft.sources.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Coalesce, Expression, Literal,
  Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

/** Table-level CHECK constraints for the staging catalog, declared as the
  * `check` table property (`TBLPROPERTIES ('check' = 'qty >= 0')`) and
  * persisted in the table record ([[TableMeta.check]]) beside the schema.
  *
  * Enforcement is WRITE-TIME and row-granular: every ingest path that can
  * add rows — INSERT/CTAS appends, streaming `foreachBatch` appends, and
  * the UPDATE/MERGE replacement write — evaluates the compiled predicate on
  * each row BEFORE it reaches the parquet writer, inside the write task on
  * the executor. A violation fails the task, Spark aborts the job, the
  * committer discards the staged files, and no version manifest is written:
  * the table is left bit-for-bit untouched (the same no-partial-commit
  * contract every other write failure already has). This is the warehouse
  * CHECK semantics: NULL evaluations PASS (SQL's `CHECK` rejects only
  * FALSE), and the constraint is validated against the declared schema at
  * DDL time so a typo fails the CREATE/ALTER, not the first insert.
  *
  * Scale shape: the predicate is a codegen'd Catalyst `BasePredicate`
  * evaluated in the write task's row loop — zero extra shuffles, zero extra
  * passes; the cost is one branch per row, the same price Spark's own
  * `CharVarcharUtils` length checks pay. Reference tie: the reference's
  * store has no mutation-in-place (`CephRgwFileSystem.java:216-289` —
  * objects are written whole), so rejecting bad rows before the object is
  * sealed is the only enforcement point that exists.
  */
private[catalog] object CheckConstraint {
  /** Driver-side compilation: parse the check text, run it through the REAL
    * analyzer against a relation of the write schema (name resolution +
    * implicit casts + "is it boolean" all come from one authority), rewrite
    * NULL→TRUE (SQL CHECK passes UNKNOWN), and bind ordinals so the
    * expression is self-contained and serializable for executor-side
    * codegen. Throws AnalysisException on unknown columns / non-boolean
    * expressions — callers invoke this at DDL time to fail fast.
    */
  def compile(spark: SparkSession, checkSql: String, schema: StructType): Expression = {
    val parsed = spark.sessionState.sqlParser.parseExpression(checkSql)
    val attrs = DataTypeUtils.toAttributes(schema)
    val analyzed = spark.sessionState.analyzer.execute(Filter(parsed, LocalRelation(attrs)))
    spark.sessionState.analyzer.checkAnalysis(analyzed)
    val cond = analyzed.collectFirst { case Filter(c, _) => c }.getOrElse(
      throw new IllegalArgumentException(s"check expression '$checkSql' did not analyze"))
    BindReferences.bindReference(Coalesce(Seq(cond, Literal.TrueLiteral)), attrs)
  }
}

/** Executor-side enforcement: wraps a [[DataWriterFactory]] so every row is
  * tested against the bound check predicate before the delegate writes it.
  * The predicate is (code-)generated once per task, not per row.
  */
private[catalog] final class CheckedWriterFactory(inner: DataWriterFactory,
    bound: Expression, checkText: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    val pred = Predicate.create(bound)
    pred.initialize(partitionId)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = {
        if (!pred.eval(row))
          throw new IllegalStateException(
            s"CHECK constraint violated: ($checkText) — write aborted, no version committed")
        w.write(row)
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}
