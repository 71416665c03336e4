package graft.expressions

import graft.operators.{Ingest, IngestConfig, IngestedRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** graft_ingest(json, force_number_fields ARRAY<STRING>, force_underscores
  * BOOLEAN) → STRUCT<cluster, namespace, app, pod_name, container_name,
  * host, log, fields_string MAP<STRING,STRING>, fields_number
  * MAP<STRING,DOUBLE>>.
  *
  * The whole klogs per-record dataflow (flatten → type dispatch → route →
  * force rewrites, /root/reference/main.go:237-354) as one native
  * expression. Semantics are [[Ingest.processRecord]] exactly (shared
  * code); its result materializes straight into Catalyst's internal row
  * format ([[JsonIngest.toInternalRow]]), with no Scala-object encoder
  * round trip. Config arguments must be foldable (literals).
  */
case class JsonIngest(
    child: Expression,
    forceNumberFields: Seq[String],
    forceUnderscores: Boolean)
    extends UnaryExpression {

  override def prettyName: String = "graft_ingest"
  override def nullable: Boolean = true

  private val cfg = IngestConfig(forceNumberFields, forceUnderscores)

  override val dataType: DataType = JsonIngest.schema

  override def nullSafeEval(jsonAny: Any): Any = {
    val rec = Ingest.processRecord(jsonAny.asInstanceOf[UTF8String].toString, cfg)
    if (rec == null) null else JsonIngest.toInternalRow(rec)
  }

  /** Codegen: one call back into [[nullSafeEval]] via a captured reference.
    * The parse itself cannot be inlined into Java source, but emitting a
    * plain method call (instead of mixing in CodegenFallback) keeps the
    * ingest projection INSIDE whole-stage codegen — the surrounding
    * operators fuse into one generated function rather than falling back to
    * interpreted row-at-a-time evaluation for the whole stage.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftIngest", this, classOf[JsonIngest].getName)
    nullSafeCodeGen(ctx, ev, json => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($json);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonIngest {
  val schema: StructType = StructType(Seq(
    StructField("cluster", StringType),
    StructField("namespace", StringType),
    StructField("app", StringType),
    StructField("pod_name", StringType),
    StructField("container_name", StringType),
    StructField("host", StringType),
    StructField("log", StringType),
    StructField("fields_string",
      MapType(StringType, StringType, valueContainsNull = false)),
    StructField("fields_number",
      MapType(StringType, DoubleType, valueContainsNull = false)),
  ))

  private def mapData(keys: Iterator[String], values: Iterator[Any]): ArrayBasedMapData =
    new ArrayBasedMapData(
      new GenericArrayData(keys.map(k => UTF8String.fromString(k)).toArray[Any]),
      new GenericArrayData(values.toArray[Any]))

  def toInternalRow(rec: IngestedRecord): InternalRow =
    InternalRow(
      UTF8String.fromString(rec.cluster),
      UTF8String.fromString(rec.namespace),
      UTF8String.fromString(rec.app),
      UTF8String.fromString(rec.pod_name),
      UTF8String.fromString(rec.container_name),
      UTF8String.fromString(rec.host),
      UTF8String.fromString(rec.log),
      mapData(rec.fields_string.keysIterator,
        rec.fields_string.valuesIterator.map(UTF8String.fromString)),
      mapData(rec.fields_number.keysIterator,
        rec.fields_number.valuesIterator.map(v => v: Any)),
    )

  /** Registry builder: config args arrive as foldable expressions. */
  def fromArgs(es: Seq[Expression]): Expression = {
    def fold(e: Expression): Any = e.eval(InternalRow.empty)
    val fields = es.lift(1).map(fold).map {
      case a: ArrayData => a.toArray[UTF8String](StringType).map(_.toString).toSeq
      case null => Seq.empty[String]
    }.getOrElse(Seq.empty)
    val underscores = es.lift(2).map(fold).exists {
      case b: java.lang.Boolean => b.booleanValue()
      case _ => false
    }
    JsonIngest(es.head, fields, underscores)
  }
}
