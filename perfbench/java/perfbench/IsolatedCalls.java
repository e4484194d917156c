package perfbench;

import java.io.PrintStream;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.Arrays;
import java.util.List;

import com.fasterxml.jackson.databind.JsonNode;
import org.apache.spark.sql.Column;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.storage.StorageLevel;

import static org.apache.spark.sql.functions.col;
import static org.apache.spark.sql.functions.from_json;
import static org.apache.spark.sql.functions.get_json_object;

/**
 * Times the public calls that Spark fuses into one write job, each on its
 * own, over each named stream's records of a corpus file.
 *
 * <p>Usage: {@code IsolatedCalls <corpus.jsonl> <scratchDir> <stream>=<schema.json>...}
 *
 * <p>The records are parsed from the envelope and cached first, so no timing
 * includes the text scan. Then, each as the median of three noop-sink runs:
 * {@code parse} is {@code from_json} with the declared schema;
 * {@code flatten} is {@code FlattenColumns.columns} over the cached parsed
 * structs; {@code encode} writes the cached flattened rows as snappy Parquet.
 * Prints one {@code PERFBENCH isolated ...} line per stream.
 */
public final class IsolatedCalls {
  private IsolatedCalls() {}

  public static void main(String[] args) throws Exception {
    String corpus = args[0];
    String scratch = args[1];
    PrintStream out = new PrintStream(System.out, true, StandardCharsets.UTF_8);

    // Mirrors the session conf in graft.Main.main.
    String cpus = System.getenv().getOrDefault("SPARK_GRAFT_CPUS", "32");
    SparkSession spark = SparkSession.builder()
        .master("local[*]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    int par = spark.sparkContext().defaultParallelism();

    for (int i = 2; i < args.length; i++) {
      String stream = args[i].substring(0, args[i].indexOf('='));
      JsonNode schemaNode = graft.model.Singer.parseJson(new String(
          Files.readAllBytes(Paths.get(args[i].substring(stream.length() + 1))),
          StandardCharsets.UTF_8));
      StructType schema = graft.schema.JsonSchemaConverter.toStructType(schemaNode, false);
      Dataset<Row> recs = spark.read().textFile(corpus).toDF("value")
          .filter(get_json_object(col("value"), "$.type").equalTo("RECORD")
              .and(get_json_object(col("value"), "$.stream").equalTo(stream)))
          .select(get_json_object(col("value"), "$.record").as("rec"))
          .repartition(par)
          .persist(StorageLevel.MEMORY_ONLY());
      long n = recs.count();

      Dataset<Row> parsed = recs.select(from_json(col("rec"), schema).as("r"));
      double parse = median(() -> noop(parsed));

      Dataset<Row> parsedCached = parsed.persist(StorageLevel.MEMORY_ONLY());
      parsedCached.count();
      List<Column> cols = scala.jdk.javaapi.CollectionConverters.asJava(
          graft.functions.FlattenColumns.columns(col("r"), schema, ""));
      Dataset<Row> flat = parsedCached.select(cols.toArray(new Column[0]));
      double flatten = median(() -> noop(flat));

      Dataset<Row> flatCached = flat.persist(StorageLevel.MEMORY_ONLY());
      flatCached.count();
      double encode = median(() -> flatCached.write().mode("overwrite")
          .option("compression", "snappy").parquet(scratch + "/encode-" + stream));

      out.println("PERFBENCH isolated stream=" + stream + " records=" + n
          + " columns=" + cols.size() + " parse_s=" + parse + " flatten_s=" + flatten
          + " encode_s=" + encode);
      spark.sqlContext().clearCache();
    }
    spark.stop();
  }

  private static void noop(Dataset<Row> df) {
    df.write().format("noop").mode("overwrite").save();
  }

  private static double median(Runnable r) {
    double[] t = new double[3];
    for (int i = 0; i < t.length; i++) {
      long t0 = System.nanoTime();
      r.run();
      t[i] = (System.nanoTime() - t0) / 1e9;
    }
    Arrays.sort(t);
    return t[1];
  }
}
