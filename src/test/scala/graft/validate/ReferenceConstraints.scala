package graft.validate

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.validate.Constraints.CompiledConstraints

/** The Column-tree spelling of [[Constraints.violation]]: one `when` per
  * keyword per leaf under a single `coalesce`, with `get_json_object`,
  * `json_object_keys` and [[graft.functions.JsonCellIsString]] reading the
  * raw record. It is the executable definition of the validation
  * semantics that the kernel in `RecordValidator` must reproduce message
  * for message; `KernelDifferentialSpec` compares the two. Spark compiles
  * this tree into one generated method far above HotSpot's 8,000-byte
  * JIT limit, which is why it is not the shipped spelling.
  */
object ReferenceConstraints {

  private def field(root: Column, path: Seq[String]): Column =
    path.foldLeft(root)(_.getField(_))

  private val Dec = DecimalType(38, 18)

  /** A column evaluating to the first violation message for the row, or
    * null if the row is valid. `root` is the parsed struct column, `raw`
    * the original record-JSON string column. A null `raw` — a RECORD
    * envelope with no `record` key — is itself a protocol violation (the
    * reference crashes on the missing key, __init__.py:216): flagging it
    * here surfaces a Singer error instead of an opaque downstream
    * json-inference failure, and without it every keyword check is
    * vacuous on the null payload. */
  def violation(cc: CompiledConstraints, root: Column, raw: Column): Column = {
    val missingRecord =
      when(raw.isNull, lit("Message is missing required key 'record'"))
    val requiredChecks: Seq[Column] = cc.required.map { rc =>
      // json_object_keys(null JSON / non-object) is null → when the parent
      // object itself is absent, `required` for its children is vacuous
      // (Draft 4 applies keywords only to present instances).
      val parentJson =
        if (rc.parentPath.isEmpty) raw
        else get_json_object(raw, "$." + rc.parentPath.mkString("."))
      val keys = json_object_keys(parentJson)
      when(keys.isNotNull && !array_contains(keys, rc.key),
        lit(s"'${rc.key}' is a required property"))
    }
    val leafChecks: Seq[Column] = cc.leaves.flatMap { c =>
      val parsed = field(root, c.path)
      val rawCell = get_json_object(raw, c.jsonPath)
      // Draft 4 applies string keywords (pattern/minLength/maxLength) only
      // to STRING instances — a numeric instance must not be pattern-
      // checked against its rendered text (jsonschema _validators.py
      // guards each with `not isinstance(instance, str)`). The probe is a
      // streaming early-exit walk (see JsonCellIsString for why neither
      // from_json nor get_json_object can answer this).
      lazy val isJsonString =
        graft.functions.JsonCellIsString.jsonCellIsString(raw, c.path)
      // min/max compare in DOUBLE like the reference's Python floats — a
      // Decimal(38,18) cast of |v| >= 1e20 THROWS under ANSI (default in
      // Spark 4), so one huge value would kill the whole validation job;
      // try_cast makes it NULL instead, and the double comparisons keep
      // the bound checks from going vacuous exactly for the most
      // out-of-range values.
      val num = parsed.cast("double")
      val dec = parsed.try_cast(Dec)
      val str = parsed.cast("string")
      val typeCheck: Seq[Column] =
        if (c.declaredTypes.isEmpty || c.declaredTypes.contains("array")) Seq.empty
        // parsed.isNull FIRST: And short-circuits in codegen, so the
        // get_json_object re-parse of the raw record only runs for rows
        // whose parsed cell is null — on clean data that is almost never,
        // keeping the hot validation scan free of redundant JSON parsing.
        else Seq(when(parsed.isNull && rawCell.isNotNull,
          format_string("%s is not of type %s", rawCell,
            lit(c.declaredTypes.mkString("'", "', '", "'")))))
      // String-only declared fields: from_json coerced any token into the
      // string slot, so `parsed.isNull` never fires — flag a non-string
      // instance as the TYPE violation it is (ahead of the string
      // keywords, which Draft 4 says ignore non-string instances).
      val strTypeCheck: Seq[Column] =
        if (c.declaredTypes.contains("string") &&
            c.declaredTypes.forall(t => t == "string" || t == "null"))
          Seq(when(parsed.isNotNull && !isJsonString,
            format_string("%s is not of type %s", rawCell,
              lit(c.declaredTypes.mkString("'", "', '", "'")))))
        else Seq.empty
      // Exact decimal comparison when the value fits Decimal(38,18)
      // (doubles lose integer precision past 2^53 — 2^53+1 over a 2^53
      // bound must still flag); double fallback outside decimal range,
      // where Python float comparison is the reference semantics anyway.
      def bound(cmpDec: Column => Column, cmpDbl: Column => Column): Column =
        coalesce(cmpDec(dec), cmpDbl(num))
      val minCheck = c.minimum.toSeq.map { m =>
        val md = m.bigDecimal; val dd = m.bigDecimal.doubleValue
        if (c.exclusiveMinimum)
          when(bound(_ <= md, _ <= dd),
            format_string(s"%s is less than or equal to the minimum of $m", str))
        else
          when(bound(_ < md, _ < dd),
            format_string(s"%s is less than the minimum of $m", str))
      }
      val maxCheck = c.maximum.toSeq.map { m =>
        val md = m.bigDecimal; val dd = m.bigDecimal.doubleValue
        if (c.exclusiveMaximum)
          when(bound(_ >= md, _ >= dd),
            format_string(s"%s is greater than or equal to the maximum of $m", str))
        else
          when(bound(_ > md, _ > dd),
            format_string(s"%s is greater than the maximum of $m", str))
      }
      // multipleOf stays exact in DECIMAL(38,18) (0.3 IS a multiple of
      // 0.1 — the L2 closure); the double pmod is only the fallback for
      // values outside decimal range, where Python float % is what the
      // reference computes anyway.
      val multCheck = c.multipleOf.toSeq.map { m =>
        val exact = pmod(dec, lit(m.bigDecimal).cast(Dec)) =!= lit(0).cast(Dec)
        val approx = pmod(num, lit(m.bigDecimal.doubleValue)) =!= lit(0.0)
        when(coalesce(exact, approx),
          format_string(s"%s is not a multiple of $m", str))
      }
      val maxLenCheck = c.maxLength.toSeq.map(n =>
        when(isJsonString && (length(str) > n),
          format_string(s"%s is too long (maxLength $n)", str)))
      val minLenCheck = c.minLength.toSeq.map(n =>
        when(isJsonString && (length(str) < n),
          format_string(s"%s is too short (minLength $n)", str)))
      val patCheck = c.pattern.toSeq.map(p =>
        when(isJsonString && !str.rlike(p),
          format_string(s"%s does not match '$p'", str)))
      val enumCheck = c.enumVals.toSeq.map(vs =>
        when(!parsed.isin(vs: _*),
          format_string(s"%s is not one of ${vs.mkString("[", ", ", "]")}", str)))
      (typeCheck ++ strTypeCheck ++ minCheck ++ maxCheck ++ multCheck ++
        maxLenCheck ++ minLenCheck ++ patCheck ++ enumCheck)
        .map(ch => when(ch.isNotNull, concat(lit(s"${c.flatName}: "), ch)))
    }
    val checks = missingRecord +: (requiredChecks ++ leafChecks)
    coalesce(checks :+ lit(null).cast("string"): _*)
  }
}
