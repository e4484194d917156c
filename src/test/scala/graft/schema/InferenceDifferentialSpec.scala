package graft.schema

import scala.util.{Random, Try}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.SparkSpec
import graft.model.TargetConfig
import graft.pipeline.IngestCore

/** The fused phase-1 inference ([[JsonSchemaConverter.inferRecords]]
  * inside [[IngestCore.phaseOne]]) against the per-epoch
  * `spark.read.json` spelling ([[ReferenceInference.inferExtra]]), both
  * merged into the declared schema with `mergeSchemas`: over generated
  * multi-stream, multi-epoch inputs, every epoch must get the same schema
  * or raise the same error. */
class InferenceDifferentialSpec extends SparkSpec {

  private val schemaJson =
    """{"type": "object", "properties": {"pk": {"type": ["null", "integer"]},
      |"v": {"type": ["null", "string"]},
      |"nested": {"type": ["null", "object"], "properties": {"a": {"type": ["null", "integer"]}}}}}"""
      .stripMargin.replace("\n", " ")

  /** Record payloads: the value after `"record": `, or None for a RECORD
    * without one. */
  private val payloads: IndexedSeq[Option[String]] = IndexedSeq(
    """{"pk": 1, "v": "x"}""",
    """{"pk": 2, "v": null, "nested": {"a": 1, "extra": {"deep": true, "n": [1, 2]}}}""",
    """{"pk": 3, "nested": {"a": 2, "other": "s"}}""",
    """{"pk": 4, "tags": [1, 2, 3]}""",
    """{"pk": 5, "tags": []}""",
    """{"pk": 6, "tags": [{"k": 1}, {"k": 2, "j": "y"}]}""",
    """{"pk": 7, "mixed": [1, "a", null]}""",
    """{"pk": 8, "gone": null}""",
    """{"pk": 9, "gone": null, "empty": {}}""",
    """{"pk": 10, "amt": 1}""",
    """{"pk": 11, "amt": 1.5}""",
    """{"pk": 12, "big": 123456789012345678901234567890}""",
    """{"pk": 13, "big": 7}""",
    """{"pk": 14, "big": 2.5e3}""",
    """{"pk": 15, "flag": true}""",
    """{"pk": 16, "flag": "true"}""",
    """{"Pk": 17, "V": "upper"}""",
    """{"pk": 18, "PK": 19}""",
    """{"pk": 20, "_sdc_deleted_at": "2024-01-01T00:00:00Z"}""",
    """{"_corrupt_record": 5}""",
    """{"_corrupt_record": "text"}""",
    """5""",
    """"plain text"""",
    """"{broken json"""",
    """"{\"pk\": 21, \"inside\": \"a string\"}"""",
    """[1, 2]""",
    """[{"pk": 22, "arr_root": 1}]""",
    """true""",
    """null"""
  ).map(Some(_)) :+ None

  /** A generated input: 1-3 streams, each with 1-3 schema epochs of 0-8
    * records, interleaved in one line order. */
  private def input(rnd: Random): Seq[String] = {
    val streams = (0 until 1 + rnd.nextInt(3)).map(i => s"s$i")
    val perStream = streams.map { s =>
      (0 until 1 + rnd.nextInt(3)).flatMap { _ =>
        s"""{"type": "SCHEMA", "stream": "$s", "schema": $schemaJson, "key_properties": []}""" +:
          Seq.fill(rnd.nextInt(9))(payloads(rnd.nextInt(payloads.size)) match {
            case Some(p) => s"""{"type": "RECORD", "stream": "$s", "record": $p}"""
            case None => s"""{"type": "RECORD", "stream": "$s"}"""
          })
      }.toList
    }
    // Interleave the streams, keeping each stream's own order.
    val queues = perStream.map(l => scala.collection.mutable.Queue(l: _*))
    Iterator.continually(queues.filter(_.nonEmpty)).takeWhile(_.nonEmpty)
      .map(qs => qs(rnd.nextInt(qs.size)).dequeue()).toSeq
  }

  private def outcome(f: => StructType): Either[String, StructType] =
    Try(f).toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage}")

  // The title names `infer_sample_rows = -1`, the unbounded inference that
  // is now the only one, so the test keeps its id.
  test("fused inference equals spark.read.json per epoch (infer_sample_rows = -1)") {
    import spark.implicits._
    var compared, errors = 0
    (1 to 12).foreach { seed =>
      val lines = input(new Random(seed * 31 - 1))
      // As many partitions as cores: no rebalance, so partial buffers merge.
      val typed = IngestCore.envelope(spark.sparkContext
        .parallelize(lines, spark.sparkContext.defaultParallelism).toDF("value"))
        .localCheckpoint()
      val records = IngestCore.records(typed)
      val epochs = IngestCore.epochs(IngestCore.controlPlane(typed), Map.empty)
      val declared = epochs.map(e => JsonSchemaConverter.toStructType(e.schema.schema))
      val config = TargetConfig(strictValidation = false)
      val fused = IngestCore.phaseOne(records, epochs, declared, config).get.collect()
        .map(r => r.getInt(0) -> r.getAs[String]("inferred")).toMap
      epochs.zip(declared).zipWithIndex.foreach { case ((e, d), i) =>
        val slice: DataFrame = records.filter(col("stream") === e.stream &&
          col("idx") > e.from && col("idx") < e.until)
        val want = outcome(JsonSchemaConverter.mergeSchemas(d,
          ReferenceInference.inferExtra(spark, slice)))
        val got = outcome(JsonSchemaConverter.mergeSchemas(d,
          JsonSchemaConverter.inferredSchema(fused.getOrElse(i, StructType(Nil).json))))
        assert(got == want, s"seed $seed, epoch $i of ${epochs.size}:\n${lines.mkString("\n")}")
        compared += 1
        if (want.isLeft) errors += 1
      }
    }
    info(s"$compared epochs compared, $errors of them errors")
    assert(errors > 0, "no generated epoch exercised an inference error")
  }
}
