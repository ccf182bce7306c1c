package graft.filters

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken, StreamReadFeature}
import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One scalar of a plain dotted payload key, read by a streaming scan of
  * the raw JSON text instead of a VARIANT parse — the per-row fast path of
  * [[FilterCompiler]]'s match and range conditions (the analog of the
  * reference checking a condition against a point's stored value,
  * `payload_storage/condition_checker.rs`).
  *
  * NULL means "not decided here": the row goes to the VARIANT path. A value
  * is returned only when the key holds exactly one JSON scalar of `kind` in
  * a document `try_parse_json` accepts, and it equals the element the
  * VARIANT path reads for that row (see [[PayloadScan]]), so
  * `coalesce(pred(PayloadScalar), <VARIANT condition>)` is row-for-row the
  * VARIANT condition. The generated code calls one static kernel, which the
  * JIT compiles once for every request's generated class. */
case class PayloadScalar(child: Expression, path: Seq[String], kind: Int)
  extends UnaryExpression {
  require(kind >= PayloadScan.Str && kind <= PayloadScan.Dbl, s"unknown scalar kind $kind")

  override def dataType: DataType = kind match {
    case PayloadScan.Str => StringType
    case PayloadScan.Lng => LongType
    case _ => DoubleType
  }
  override def nullable: Boolean = true
  override def prettyName: String = "payload_scalar"

  @transient private lazy val keys: Array[String] = path.toArray

  override protected def nullSafeEval(input: Any): Any =
    PayloadScan.scan(input.asInstanceOf[UTF8String], keys, kind)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("payloadPath", keys, "java.lang.String[]")
    val (boxed, method, unbox) = kind match {
      case PayloadScan.Str => ("org.apache.spark.unsafe.types.UTF8String", "stringAt", "")
      case PayloadScan.Lng => ("java.lang.Long", "longAt", ".longValue()")
      case _ => ("java.lang.Double", "doubleAt", ".doubleValue()")
    }
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("scalar")
      s"""
         |$boxed $r = graft.filters.PayloadScan.$method($c, $ref);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r$unbox;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PayloadScalar {
  /** The scalar of dotted `key` in the raw JSON column `payload`. */
  def column(payload: Column, key: String, kind: Int): Column =
    GraftShim.column(PayloadScalar(GraftShim.expression(payload), key.split('.').toSeq, kind))
}

/** Kernel of [[PayloadScalar]]. It runs Jackson's streaming parser over
  * the same input `try_parse_json` parses (`UTF8String.toString`, a
  * char-based parser from a default factory), with duplicate detection at
  * every level, and reads the leaf token the way the VARIANT builder and
  * `try_variant_get` would:
  *
  *  - `Str`: a JSON string → that text (the builder stores
  *    `getText().getBytes(UTF_8)`, which `UTF8String.fromString` repeats);
  *  - `Lng`: a JSON integer that fits a long → `getLongValue` (the builder
  *    stores exactly that);
  *  - `Dbl`: any JSON number → `getDoubleValue`, the correctly rounded
  *    double that every VARIANT route to a double (long, exact decimal,
  *    double, and their string renderings) also yields.
  *
  * Any other shape — a document that is not one object, a duplicate key,
  * malformed or trailing text, a path through a non-object, an array,
  * null, an object or a scalar of another kind at the key, an absent key —
  * returns null.
  *
  * Both paths agree on non-ASCII strings only under a UTF-8 default charset
  * (see [[graft.GraftSession]]), which every launch gets from `tools/jvm.opts`. */
object PayloadScan {
  final val Str = 0
  final val Lng = 1
  final val Dbl = 2

  /** Larger documents go to the VARIANT path (its own size limit applies
    * there). */
  private val MaxBytes = 1 << 20

  private val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .build()

  /** A key the VARIANT path reads as `$.` + key with one object step per
    * dot-separated segment: printable ASCII without brackets or quotes, no
    * empty segment (Spark's path parser treats those differently; other
    * keys stay on the VARIANT path). */
  def plainKey(key: String): Boolean =
    key.nonEmpty && key.split("\\.", -1).forall(s =>
      s.nonEmpty && s.forall(ch => ch > ' ' && ch < 0x7f &&
        ch != '[' && ch != ']' && ch != '\'' && ch != '"'))

  def stringAt(payload: UTF8String, path: Array[String]): UTF8String =
    scan(payload, path, Str).asInstanceOf[UTF8String]
  def longAt(payload: UTF8String, path: Array[String]): java.lang.Long =
    scan(payload, path, Lng).asInstanceOf[java.lang.Long]
  def doubleAt(payload: UTF8String, path: Array[String]): java.lang.Double =
    scan(payload, path, Dbl).asInstanceOf[java.lang.Double]

  def scan(payload: UTF8String, path: Array[String], kind: Int): AnyRef = {
    if (payload.numBytes() > MaxBytes) return null
    val p = factory.createParser(payload.toString)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) null
      else {
        val found = inObject(p, path, 0, kind)
        if (p.nextToken() != null) null else found
      }
    } catch {
      case scala.util.control.NonFatal(_) => null
    } finally p.close()
  }

  /** Consumes the object the parser stands on (START_OBJECT) through its
    * END_OBJECT, returning the leaf scalar of `path(depth..)` if present. */
  private def inObject(p: JsonParser, path: Array[String], depth: Int, kind: Int): AnyRef = {
    var found: AnyRef = null
    var t = p.nextToken()
    while (t == JsonToken.FIELD_NAME) {
      val hit = path(depth) == p.currentName()
      val v = p.nextToken()
      if (hit && depth == path.length - 1) found = leaf(p, v, kind)
      else if (hit && v == JsonToken.START_OBJECT) {
        found = inObject(p, path, depth + 1, kind)
      }
      if (p.currentToken().isStructStart) p.skipChildren()
      t = p.nextToken()
    }
    if (t != JsonToken.END_OBJECT) throw new java.io.EOFException("unclosed object")
    found
  }

  private def leaf(p: JsonParser, t: JsonToken, kind: Int): AnyRef = kind match {
    case Str =>
      if (t != JsonToken.VALUE_STRING) null else UTF8String.fromString(p.getText)
    case Lng =>
      if (t == JsonToken.VALUE_NUMBER_INT && (p.getNumberType == JsonParser.NumberType.INT ||
          p.getNumberType == JsonParser.NumberType.LONG)) {
        java.lang.Long.valueOf(p.getLongValue)
      } else null
    case _ =>
      if (t == JsonToken.VALUE_NUMBER_INT || t == JsonToken.VALUE_NUMBER_FLOAT) {
        java.lang.Double.valueOf(p.getDoubleValue)
      } else null
  }
}
