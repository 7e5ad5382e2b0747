package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook: `--conf spark.sql.extensions=
  * graft.GraftExtensions` (or `builder.withExtensions(new
  * GraftExtensions)`) makes the engine's native expressions available
  * to plain SQL (`SELECT simhash60(text) ...`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach(ext.injectFunction)
}

/** Runtime registration for library callers that already hold a built
  * session (idempotent; TrainingOps calls it before using the
  * functions). */
object GraftFunctions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def descriptor(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** The engine's native SQL functions: the one list both
    * [[GraftExtensions]] and [[register]] install. */
  val descriptors: Seq[Descriptor] = Seq(
    descriptor("simhash60", classOf[graft.expr.SimHash60])(c => graft.expr.SimHash60(c.head)),
    descriptor("nfc_normalize", classOf[graft.expr.NfcNormalize])(
      c => graft.expr.NfcNormalize(c.head)),
    descriptor("embed_lsh_sig48", classOf[graft.expr.EmbedLshSig48])(
      c => graft.expr.EmbedLshSig48(c.head)),
    // Spark's native Bloom probe (codegen'd, used by its own runtime
    // join filters) exposed as a callable function: arg0 = the
    // serialized sketch (binary literal, as written by
    // DataFrameStatFunctions.bloomFilter), arg1 = the long value.
    descriptor("might_contain_long",
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain])(
      c => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(c(0), c(1))),
    descriptor("dot_seq", classOf[graft.expr.DotSeq])(c => graft.expr.DotSeq(c(0), c(1))))

  def register(spark: SparkSession): Unit =
    for ((id, _, build) <- descriptors)
      org.apache.spark.sql.graftshim.GraftRegistry.register(spark, id.funcName, build)
}
