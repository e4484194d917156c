package graft.validate

import java.util.{Arrays, HashMap => JHashMap, Locale}
import java.util.regex.Pattern
import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{AnsiTypeCoercion, TypeCheckResult, TypeCoercion}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Cast,
  EvalMode, Expression, GenericInternalRow, In, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.json.{GetJsonObjectEvaluator, JsonExpressionUtils}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.validate.Constraints.{CompiledConstraints, LeafConstraint}

/** First Draft-4 violation of a record, as one Catalyst expression.
  *
  * `root` is the record parsed by `from_json` against the stream's struct,
  * `raw` the record's JSON text. The generated code is a single call into
  * [[ValidationKernel.check]], plain Scala that HotSpot compiles; the
  * per-keyword work never enters the generated method, so its size does
  * not grow with the schema.
  *
  * `ansi` and `timeZoneId` are the session's at construction, the same
  * inputs the analyzer would give the casts and the `IN` coercion the
  * kernel evaluates.
  */
case class ValidateRecord(
    root: Expression,
    raw: Expression,
    cc: CompiledConstraints,
    ansi: Boolean = SQLConf.get.ansiEnabled,
    timeZoneId: String = SQLConf.get.sessionLocalTimeZone)
    extends BinaryExpression {

  override def left: Expression = root
  override def right: Expression = raw
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "validate_record"
  override protected def flatArguments: Iterator[Any] = Iterator(root, raw)

  @transient private lazy val compiled: Either[String, RecordValidator] = root.dataType match {
    case st: StructType => RecordValidator.compile(cc, st, ansi, timeZoneId)
    case other => Left(s"validate_record expects the parsed record struct, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (raw.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"validate_record expects string JSON, got ${raw.dataType}")
    else compiled.fold(TypeCheckResult.TypeCheckFailure, _ => TypeCheckResult.TypeCheckSuccess)

  private def validator: RecordValidator =
    compiled.fold(e => throw new IllegalStateException(e), identity)

  // Interpreted evaluation (local relations, codegen fallback): a kernel
  // holds per-record scratch, so each evaluating thread gets its own.
  @transient private lazy val localKernel: ThreadLocal[ValidationKernel] =
    ThreadLocal.withInitial(() => validator.newKernel())

  override def eval(input: InternalRow): Any =
    localKernel.get().check(
      root.eval(input).asInstanceOf[InternalRow], raw.eval(input).asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("validator", validator, classOf[RecordValidator].getName)
    val kernel = ctx.addMutableState(classOf[ValidationKernel].getName, "validationKernel",
      v => s"$v = $ref.newKernel();", forceInline = true)
    val r = root.genCode(ctx)
    val j = raw.genCode(ctx)
    ev.copy(code = code"""
      ${r.code}
      ${j.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $kernel.check(
        ${r.isNull} ? null : ${r.value}, ${j.isNull} ? null : ${j.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ValidateRecord =
    copy(root = l, raw = r)
}

/** The per-schema part of validation, built once when the plan is
  * compiled and shipped with it: a trie over the property names the raw
  * walk must see, and one [[RecordValidator.Leaf]] per schema leaf holding
  * its struct ordinals, bounds, compiled regex and coerced `IN` list. */
final class RecordValidator private (
    private[validate] val fields: Array[JHashMap[String, RecordValidator.Slot]],
    private[validate] val requiredKeys: Array[Array[(String, Int)]],
    private[validate] val required: Array[RecordValidator.Required],
    private[validate] val leaves: Array[RecordValidator.Leaf],
    private[validate] val presenceSlots: Int)
    extends Serializable {

  private[validate] val hasRequired: Array[Boolean] = requiredKeys.map(_.nonEmpty)

  def newKernel(): ValidationKernel = new ValidationKernel(this)
}

object RecordValidator {

  private[validate] val Dec = DecimalType(38, 18)

  /** A property name under a trie node: `child` is the node it leads to
    * (-1 when the walk need not enter it), `presence` the `required` slot
    * it fills (-1 when the node does not require it). */
  private[validate] final class Slot(var child: Int, var presence: Int) extends Serializable

  private[validate] final case class Required(node: Int, presence: Int, message: UTF8String)

  /** A `minimum` or `maximum`: compared exactly as a decimal when the value
    * fits Decimal(38,18), otherwise as a double. */
  private[validate] final class Bound(m: BigDecimal, upper: Boolean, exclusive: Boolean,
      val format: String) extends Serializable {
    private val dec: Decimal = Decimal(m.bigDecimal)
    private val dbl: Double = m.bigDecimal.doubleValue
    private val asLong: Option[Long] =
      if (m.isValidLong) Some(m.toLongExact) else None

    private def violated(cmp: Int): Boolean =
      if (upper) cmp > 0 || (exclusive && cmp == 0) else cmp < 0 || (exclusive && cmp == 0)

    def violatedByLong(v: Long): Boolean = violated(asLong match {
      case Some(l) => java.lang.Long.compare(v, l)
      case None => java.math.BigDecimal.valueOf(v).compareTo(m.bigDecimal)
    })
    def violatedByDecimal(v: Decimal): Boolean = violated(v.compare(dec))
    def violatedByDouble(v: Double): Boolean = violated(SQLOrderingUtil.compareDoubles(v, dbl))
  }

  /** `multipleOf`: the exact decimal remainder, with the double `pmod` as
    * the fallback outside decimal range. */
  private[validate] final class Multiple(m: BigDecimal, val format: String) extends Serializable {
    private val dec: Decimal = {
      val d = Decimal(m.bigDecimal)
      if (d.changePrecision(Dec.precision, Dec.scale)) d else null
    }
    private val asLong: Long =
      if (dec != null && m.isValidLong) m.toLongExact else 0L
    private val dbl: Double = m.bigDecimal.doubleValue

    /** Null when the remainder is undefined (a zero divisor). */
    def violatedByLong(v: Long): java.lang.Boolean =
      if (asLong != 0L) java.lang.Boolean.valueOf(v % asLong != 0L)
      else violatedByDecimal(Decimal(v))
    def violatedByDecimal(v: Decimal): java.lang.Boolean =
      if (dec == null || dec.isZero) null
      else java.lang.Boolean.valueOf(!v.remainder(dec).isZero)
    def violatedByDouble(v: Double): java.lang.Boolean =
      if (dbl == 0.0) null
      else {
        val r = v % dbl
        val p = if (r < 0) (r + dbl) % dbl else r
        java.lang.Boolean.valueOf(!(p == 0.0))
      }
  }

  /** One schema leaf. Formats are the exact `format_string` patterns of
    * the messages; `prefix` is the flattened column name. */
  private[validate] final class Leaf(
      val node: Int,
      val parentOrdinals: Array[Int],
      val parentSizes: Array[Int],
      val ordinal: Int,
      val dataType: DataType,
      val prefix: String,
      val jsonPath: UTF8String,
      val typeNames: UTF8String,       // null: no `type` check
      val stringOnly: Boolean,         // declared string (or string + null)
      val minimum: Bound,
      val maximum: Bound,
      val multipleOf: Multiple,
      val maxLength: Int,              // -1: absent
      val maxLengthFormat: String,
      val minLength: Int,
      val minLengthFormat: String,
      val pattern: Pattern,
      val patternFormat: String,
      val enumIn: Expression,          // over BoundReference(0): the leaf value
      val enumFormat: String,
      val toDecimal: Expression,       // try_cast to Decimal(38,18), null when direct
      val toDouble: Expression,        // cast to double, null when direct
      val toText: Expression)          // cast to string, null for string leaves
      extends Serializable {
    def needsNumbers: Boolean = minimum != null || maximum != null || multipleOf != null
  }

  /** Compile `cc` against the struct `from_json` produces. Left carries
    * the analysis error the Column spelling would have raised: a leaf the
    * struct lacks, a numeric keyword on a type that cannot be cast, or an
    * `enum` whose values cannot be coerced to the leaf's type. */
  def compile(cc: CompiledConstraints, rootType: StructType, ansi: Boolean,
              timeZoneId: String): Either[String, RecordValidator] = {
    val fields = scala.collection.mutable.ArrayBuffer(new JHashMap[String, Slot]())
    def nodeOf(path: Seq[String]): Int = path.foldLeft(0) { (n, k) =>
      val slot = fields(n).computeIfAbsent(k, _ => new Slot(-1, -1))
      if (slot.child < 0) {
        slot.child = fields.size
        fields += new JHashMap[String, Slot]()
      }
      slot.child
    }
    // Required parents and leaves are all trie nodes; presence slots are
    // per (parent, key), shared when a key is listed twice.
    val presence = new JHashMap[(Int, String), Integer]()
    val required = cc.required.map { rc =>
      val node = nodeOf(rc.parentPath)
      val slotIdx = presence.computeIfAbsent((node, rc.key), _ => Integer.valueOf(presence.size))
      fields(node).computeIfAbsent(rc.key, _ => new Slot(-1, -1)).presence = slotIdx
      Required(node, slotIdx, UTF8String.fromString(s"'${rc.key}' is a required property"))
    }
    val leafNodes = cc.leaves.map(c => nodeOf(c.path))
    val requiredKeys = Array.tabulate(fields.size) { n =>
      cc.required.zip(required).collect { case (rc, r) if r.node == n => (rc.key, r.presence) }
        .distinct.toArray
    }
    val leaves = cc.leaves.zip(leafNodes).map { case (c, node) =>
      leaf(c, node, rootType, ansi, timeZoneId) }
    leaves.collectFirst { case Left(e) => e } match {
      case Some(e) => Left(e)
      case None => Right(new RecordValidator(fields.toArray, requiredKeys,
        required.toArray, leaves.map(_.toOption.get).toArray, presence.size))
    }
  }

  private def leaf(c: LeafConstraint, node: Int, rootType: StructType, ansi: Boolean,
                   tz: String): Either[String, Leaf] = {
    // Resolve the path like GetStructField under the default
    // case-insensitive resolver: an exact name first, then a unique
    // case-insensitive match.
    def ordinal(st: StructType, name: String): Either[String, Int] =
      st.fieldNames.indexOf(name) match {
        case -1 => st.fieldNames.zipWithIndex.filter(_._1.equalsIgnoreCase(name)) match {
          case Array((_, i)) => Right(i)
          case _ => Left(s"No unique field $name in $st for ${c.flatName}")
        }
        case i => Right(i)
      }
    var st = rootType
    val ords = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    var dt: DataType = null
    val it = c.path.iterator
    while (it.hasNext) {
      val name = it.next()
      ordinal(st, name) match {
        case Left(e) => return Left(e)
        case Right(i) =>
          ords += i
          sizes += st.size
          dt = st(i).dataType
          if (it.hasNext) dt match {
            case s: StructType => st = s
            case other => return Left(s"${c.flatName}: $name is $other, not a struct")
          }
      }
    }
    val mode = if (ansi) EvalMode.ANSI else EvalMode.LEGACY
    val value = BoundReference(0, dt, nullable = true)
    def cast(to: DataType, m: EvalMode.Value): Either[String, Expression] = {
      val e = Cast(value, to, Some(tz), m)
      e.checkInputDataTypes() match {
        case TypeCheckResult.TypeCheckSuccess => Right(e)
        case f => Left(s"${c.flatName}: cannot cast $dt to $to ($f)")
      }
    }
    val numeric = c.minimum.isDefined || c.maximum.isDefined || c.multipleOf.isDefined
    val toDecimal =
      if (!numeric || dt == LongType || dt == Dec) Right(null) else cast(Dec, EvalMode.TRY)
    val toDouble =
      if (!numeric || dt == LongType || dt == DoubleType || dt == Dec) Right(null)
      else cast(DoubleType, mode)
    val toText = if (dt == StringType) Right(null) else cast(StringType, mode)
    val enumIn: Either[String, Expression] = c.enumVals match {
      case None => Right(null)
      case Some(vs) =>
        val coercion = if (ansi) AnsiTypeCoercion else TypeCoercion
        val in = In(value, vs.map(v => Literal(v)))
        val coerced = coercion.InConversion.transform.applyOrElse(in, identity[Expression])
        coerced.checkInputDataTypes() match {
          case TypeCheckResult.TypeCheckSuccess => Right(coerced)
          case f => Left(s"${c.flatName}: enum ${vs.mkString("[", ", ", "]")} on $dt ($f)")
        }
    }
    for {
      dec <- toDecimal
      dbl <- toDouble
      txt <- toText
      in <- enumIn
    } yield {
      val typeCheck = c.declaredTypes.nonEmpty && !c.declaredTypes.contains("array")
      val types = c.declaredTypes.mkString("'", "', '", "'")
      new Leaf(
        node = node,
        parentOrdinals = ords.init.toArray,
        parentSizes = sizes.init.toArray,
        ordinal = ords.last,
        dataType = dt,
        prefix = s"${c.flatName}: ",
        jsonPath = UTF8String.fromString(c.jsonPath),
        typeNames = if (typeCheck) UTF8String.fromString(types) else null,
        stringOnly = c.declaredTypes.contains("string") &&
          c.declaredTypes.forall(t => t == "string" || t == "null"),
        minimum = c.minimum.map(m => new Bound(m, upper = false, c.exclusiveMinimum,
          if (c.exclusiveMinimum) s"%s is less than or equal to the minimum of $m"
          else s"%s is less than the minimum of $m")).orNull,
        maximum = c.maximum.map(m => new Bound(m, upper = true, c.exclusiveMaximum,
          if (c.exclusiveMaximum) s"%s is greater than or equal to the maximum of $m"
          else s"%s is greater than the maximum of $m")).orNull,
        multipleOf = c.multipleOf.map(m => new Multiple(m, s"%s is not a multiple of $m")).orNull,
        maxLength = c.maxLength.getOrElse(-1),
        maxLengthFormat = c.maxLength.map(n => s"%s is too long (maxLength $n)").orNull,
        minLength = c.minLength.getOrElse(-1),
        minLengthFormat = c.minLength.map(n => s"%s is too short (minLength $n)").orNull,
        pattern = c.pattern.map(Pattern.compile).orNull,
        patternFormat = c.pattern.map(p => s"%s does not match '$p'").orNull,
        enumIn = in,
        enumFormat = c.enumVals.map(vs => s"%s is not one of ${vs.mkString("[", ", ", "]")}").orNull,
        toDecimal = dec,
        toDouble = dbl,
        toText = txt)
    }
  }
}

/** Per-task validation state: the scratch of one record's raw walk and
  * the evaluators used only to render a violation. Not thread-safe; the
  * generated code holds one per partition. */
final class ValidationKernel private[validate] (v: RecordValidator) {
  import RecordValidator._
  import ValidationKernel._

  private val nodes = v.fields.length
  // Per trie node, for the current record:
  //  - `first`: token kind of the first occurrence along the chain of
  //    first occurrences (Absent when a link is missing or not an object);
  //  - `seen`: some occurrence, along any chain of objects, is non-null;
  //    this is where get_json_object finds a value;
  //  - `keysDefined`: json_object_keys of that occurrence is non-null.
  private val first = new Array[Byte](nodes)
  private val seen = new Array[Boolean](nodes)
  private val keysDefined = new Array[Boolean](nodes)
  private val present = new Array[Boolean](v.presenceSlots)
  private var walked = false
  private var raw: UTF8String = _

  private val row = new GenericInternalRow(1)
  private val evaluators = new Array[GetJsonObjectEvaluator](v.leaves.length)

  /** The first violation message, or null when the record is valid. */
  def check(root: InternalRow, rawJson: UTF8String): UTF8String = {
    if (rawJson == null) return MissingRecord
    raw = rawJson
    walked = false
    if (v.required.nonEmpty) walk()
    var i = 0
    while (i < v.required.length) {
      val rc = v.required(i)
      if (keysDefined(rc.node) && !present(rc.presence)) return rc.message
      i += 1
    }
    i = 0
    while (i < v.leaves.length) {
      val msg = checkLeaf(i, root)
      if (msg != null) return msg
      i += 1
    }
    null
  }

  private def checkLeaf(i: Int, root: InternalRow): UTF8String = {
    val l = v.leaves(i)
    val parent = parentOf(l, root)
    val isNull = parent == null || parent.isNullAt(l.ordinal)
    // type: present in the raw JSON yet null after from_json
    if (l.typeNames != null && isNull && { walk(); seen(l.node) })
      return render(l, "%s is not of type %s", rawText(i, l), l.typeNames)
    // a non-string instance that from_json coerced into a string slot
    if (l.stringOnly && !isNull && { walk(); isNotString(l.node) })
      return render(l, "%s is not of type %s", rawText(i, l), l.typeNames)
    if (!isNull && l.needsNumbers) {
      val msg = checkNumbers(l, parent)
      if (msg != null) return msg
    }
    if (!isNull && (l.maxLength >= 0 || l.minLength >= 0 || l.pattern != null) &&
        { walk(); first(l.node) == KString }) {
      val s = text(l, parent)
      if (l.maxLength >= 0 && s.numChars() > l.maxLength) return render(l, l.maxLengthFormat, s)
      if (l.minLength >= 0 && s.numChars() < l.minLength) return render(l, l.minLengthFormat, s)
      if (l.pattern != null && !l.pattern.matcher(s.toString).find(0))
        return render(l, l.patternFormat, s)
    }
    // IN over a null value is null, except an empty list, which is false
    if (l.enumIn != null) {
      row.update(0, if (isNull) null else parent.get(l.ordinal, l.dataType))
      if (l.enumIn.eval(row) == java.lang.Boolean.FALSE)
        return render(l, l.enumFormat, if (isNull) null else text(l, parent))
    }
    null
  }

  /** min, max and multipleOf: Decimal(38,18) when the value converts
    * (try_cast), otherwise double. */
  private def checkNumbers(l: Leaf, parent: InternalRow): UTF8String = {
    if (l.dataType == LongType) {
      val x = parent.getLong(l.ordinal)
      if (l.minimum != null && l.minimum.violatedByLong(x)) return render(l, l.minimum.format, text(l, parent))
      if (l.maximum != null && l.maximum.violatedByLong(x)) return render(l, l.maximum.format, text(l, parent))
      if (l.multipleOf != null) {
        val m = l.multipleOf.violatedByLong(x)
        if (m == java.lang.Boolean.TRUE ||
            (m == null && l.multipleOf.violatedByDouble(x.toDouble) == java.lang.Boolean.TRUE))
          return render(l, l.multipleOf.format, text(l, parent))
      }
      return null
    }
    val dec: Decimal =
      if (l.toDecimal == null) parent.getDecimal(l.ordinal, Dec.precision, Dec.scale)
      else { row.update(0, parent.get(l.ordinal, l.dataType)); l.toDecimal.eval(row).asInstanceOf[Decimal] }
    if (dec != null) {
      if (l.minimum != null && l.minimum.violatedByDecimal(dec)) return render(l, l.minimum.format, text(l, parent))
      if (l.maximum != null && l.maximum.violatedByDecimal(dec)) return render(l, l.maximum.format, text(l, parent))
      if (l.multipleOf != null) {
        val m = l.multipleOf.violatedByDecimal(dec)
        if (m == java.lang.Boolean.TRUE) return render(l, l.multipleOf.format, text(l, parent))
        if (m == null && violatedAsDouble(l, parent)) return render(l, l.multipleOf.format, text(l, parent))
      }
      null
    } else {
      val num = double(l, parent)
      if (num == null) return null
      val x = num.doubleValue
      if (l.minimum != null && l.minimum.violatedByDouble(x)) return render(l, l.minimum.format, text(l, parent))
      if (l.maximum != null && l.maximum.violatedByDouble(x)) return render(l, l.maximum.format, text(l, parent))
      if (l.multipleOf != null && l.multipleOf.violatedByDouble(x) == java.lang.Boolean.TRUE)
        return render(l, l.multipleOf.format, text(l, parent))
      null
    }
  }

  private def violatedAsDouble(l: Leaf, parent: InternalRow): Boolean = {
    val num = double(l, parent)
    num != null && l.multipleOf.violatedByDouble(num.doubleValue) == java.lang.Boolean.TRUE
  }

  private def double(l: Leaf, parent: InternalRow): java.lang.Double =
    if (l.dataType == DoubleType) java.lang.Double.valueOf(parent.getDouble(l.ordinal))
    else if (l.toDouble == null) java.lang.Double.valueOf(parent.getDecimal(l.ordinal, Dec.precision, Dec.scale).toDouble)
    else {
      row.update(0, parent.get(l.ordinal, l.dataType))
      l.toDouble.eval(row).asInstanceOf[java.lang.Double]
    }

  /** The value as Spark's `cast(string)` renders it. */
  private def text(l: Leaf, parent: InternalRow): UTF8String =
    if (l.toText == null) parent.getUTF8String(l.ordinal)
    else {
      row.update(0, parent.get(l.ordinal, l.dataType))
      l.toText.eval(row).asInstanceOf[UTF8String]
    }

  /** get_json_object's rendering of the leaf, evaluated only for messages. */
  private def rawText(i: Int, l: Leaf): UTF8String = {
    if (evaluators(i) == null) evaluators(i) = new GetJsonObjectEvaluator(l.jsonPath)
    evaluators(i).setJson(raw)
    evaluators(i).evaluate().asInstanceOf[UTF8String]
  }

  private def parentOf(l: Leaf, root: InternalRow): InternalRow = {
    var r = root
    var i = 0
    while (i < l.parentOrdinals.length) {
      if (r == null || r.isNullAt(l.parentOrdinals(i))) return null
      r = r.getStruct(l.parentOrdinals(i), l.parentSizes(i))
      i += 1
    }
    r
  }

  private def isNotString(node: Int): Boolean = first(node) != KAbsent && first(node) != KString

  /** The message format_string builds: same Formatter, same arguments. */
  private def render(l: Leaf, format: String, args: AnyRef*): UTF8String = {
    val sb = new java.lang.StringBuffer()
    new java.util.Formatter(sb, Locale.US).format(format, args: _*)
    UTF8String.fromString(l.prefix + sb.toString)
  }

  /** One streaming pass over the raw record, at most once per record. A
    * record that is not a JSON object leaves every node absent; a parse
    * error anywhere in it does too, as it makes get_json_object and
    * json_object_keys null. */
  private def walk(): Unit = if (!walked) {
    walked = true
    Arrays.fill(first, KAbsent)
    Arrays.fill(seen, false)
    Arrays.fill(keysDefined, false)
    Arrays.fill(present, false)
    var p: JsonParser = null
    try {
      val bb = raw.getByteBuffer
      p = Factory.createParser(bb.array(), bb.arrayOffset() + bb.position(), bb.remaining())
      if (p.nextToken() == JsonToken.START_OBJECT) {
        keysDefined(0) = true
        walkObject(p, 0, firstChain = true, keys = v.hasRequired(0))
      }
    } catch {
      case _: java.io.IOException =>
        Arrays.fill(first, KAbsent)
        Arrays.fill(seen, false)
        Arrays.fill(keysDefined, false)
    } finally {
      if (p != null) p.close()
    }
  }

  /** The cursor is on the START_OBJECT of an occurrence of `node`.
    * `firstChain`: it is the first occurrence of every name on its path.
    * `keys`: it is the occurrence whose keys `required` reads. */
  private def walkObject(p: JsonParser, node: Int, firstChain: Boolean, keys: Boolean): Unit = {
    val fields = v.fields(node)
    var t = p.nextToken()
    while (t == JsonToken.FIELD_NAME) {
      val slot = fields.get(p.currentName())
      t = p.nextToken()
      if (slot == null || slot.child < 0) {
        if (slot != null && keys && slot.presence >= 0) present(slot.presence) = true
        if (t == JsonToken.START_OBJECT || t == JsonToken.START_ARRAY) p.skipChildren()
      } else {
        if (keys && slot.presence >= 0) present(slot.presence) = true
        visit(p, t, slot.child, firstChain)
      }
      t = p.nextToken()
    }
  }

  private def visit(p: JsonParser, t: JsonToken, node: Int, parentFirst: Boolean): Unit = {
    val isFirst = parentFirst && first(node) == KAbsent
    if (isFirst) first(node) = kind(t)
    val isMatch = t != JsonToken.VALUE_NULL && !seen(node)
    if (isMatch) {
      seen(node) = true
      if (v.hasRequired(node)) {
        if (t == JsonToken.START_OBJECT) keysDefined(node) = true
        else if (t == JsonToken.VALUE_STRING) keysOfText(node, p.getText)
      }
    }
    if (t == JsonToken.START_OBJECT) {
      if (v.fields(node).isEmpty) p.skipChildren()
      else walkObject(p, node, isFirst, isMatch && v.hasRequired(node))
    } else if (t == JsonToken.START_ARRAY) p.skipChildren()
  }

  /** get_json_object unquotes a string, and json_object_keys then parses
    * its text: a string holding a JSON object counts as that object. */
  private def keysOfText(node: Int, s: String): Unit = {
    val keys = JsonExpressionUtils.jsonObjectKeys(UTF8String.fromString(s))
    if (keys != null) {
      keysDefined(node) = true
      val names = (0 until keys.numElements()).map(keys.getUTF8String(_).toString).toSet
      v.requiredKeys(node).foreach { case (k, slot) => present(slot) = names.contains(k) }
    }
  }
}

object ValidationKernel {
  private[validate] val MissingRecord = UTF8String.fromString("Message is missing required key 'record'")

  private final val KAbsent: Byte = 0
  private final val KString: Byte = 1
  private final val KOther: Byte = 2

  private def kind(t: JsonToken): Byte = if (t == JsonToken.VALUE_STRING) KString else KOther

  /** get_json_object's and json_object_keys' parser features. */
  private val Factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()
}
