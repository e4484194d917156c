package perfbench;

import java.io.PrintStream;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;

/**
 * The operator_mix client: one sequential caller of registered query rows.
 *
 * <p>Usage: {@code OpsMix <sfDir> <row,row,...> <outDir> <seconds>}
 *
 * <p>It builds the session the way {@code graft.Bench} does (same confs),
 * runs two warm-up passes, the first writing each row's result to
 * {@code <outDir>/<row>} as parquet (the output the harness checks against
 * the DuckDB oracle), the second through the noop sink, then times passes
 * over the rows through the noop sink, as Bench does, until {@code seconds}
 * have elapsed (at least one pass).
 * Results go to stdout as {@code PERFBENCH ...} lines; Spark logs go to
 * stderr.
 */
public final class OpsMix {
  private OpsMix() {}

  public static void main(String[] args) throws Exception {
    String sfDir = args[0];
    String[] rows = args[1].split(",");
    Path outDir = Paths.get(args[2]);
    double seconds = Double.parseDouble(args[3]);
    PrintStream out = new PrintStream(System.out, true, StandardCharsets.UTF_8);

    // Mirrors the session conf in graft.Bench.main; the two AQE values are
    // Bench's defaults.
    String cpus = env("SPARK_GRAFT_CPUS", "4");
    SparkSession spark = SparkSession.builder()
        .master("local[" + cpus + "]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate();
    spark.sparkContext().setLogLevel("WARN");

    Map<String, scala.Function2<SparkSession, String, Dataset<Row>>> registry =
        new LinkedHashMap<>();
    scala.collection.Iterator<scala.Tuple2<String,
        scala.Function2<SparkSession, String, Dataset<Row>>>> it =
        graft.SparkEntry.queries().iterator();
    while (it.hasNext()) {
      scala.Tuple2<String, scala.Function2<SparkSession, String, Dataset<Row>>> e = it.next();
      registry.put(e._1(), e._2());
    }
    List<String> oracle = new ArrayList<>();
    for (String row : rows) {
      if (!registry.containsKey(row)) throw new IllegalArgumentException("unknown row " + row);
      scala.Option<String> sql = graft.SparkEntry.oracleSql().get(row);
      if (sql.isDefined()) oracle.add(Json.str(row) + ":" + Json.str(sql.get()));
    }
    Files.createDirectories(outDir);
    Files.writeString(outDir.resolve("oracle_sql.json"), "{" + String.join(",", oracle) + "}");

    // Warm-up: the first pass writes each row's result for the check, the
    // second runs the rows as the timed passes do, so that the timed passes
    // start with the JIT settled.
    for (String row : rows) {
      String err = runRow(spark, registry, row, sfDir, outDir.resolve(row));
      out.println("PERFBENCH warmup " + row + (err == null ? "" : " ERROR " + err));
    }
    for (String row : rows) {
      String err = runRow(spark, registry, row, sfDir, null);
      out.println("PERFBENCH warmup " + row + (err == null ? "" : " ERROR " + err));
    }
    out.println("PERFBENCH warmup_done " + System.currentTimeMillis());

    long start = System.nanoTime();
    int pass = 0;
    do {
      StringBuilder line = new StringBuilder("PERFBENCH pass " + pass);
      long p0 = System.nanoTime();
      for (String row : rows) {
        long t0 = System.nanoTime();
        boolean ok = runRow(spark, registry, row, sfDir, null) == null;
        line.append(' ').append(row).append('=').append(ok ? secs(t0) : "ERROR");
      }
      out.println(line.append(" total=").append(secs(p0)));
      pass++;
    } while ((System.nanoTime() - start) / 1e9 < seconds);
    spark.sparkContext().setLocalProperty("perfbench.row", null);
    spark.stop();
  }

  /**
   * Runs one row, writing its result as one parquet file to {@code out}, or
   * through the noop sink as Bench does when {@code out} is null. Returns
   * the error's class name, or null on success.
   */
  private static String runRow(
      SparkSession spark,
      Map<String, scala.Function2<SparkSession, String, Dataset<Row>>> registry,
      String row, String sfDir, Path out) {
    spark.sparkContext().setLocalProperty("perfbench.row", row);
    String err = null;
    try {
      Dataset<Row> df = registry.get(row).apply(spark, sfDir);
      if (out == null) {
        df.write().format("noop").mode("overwrite").save();
      } else {
        df.coalesce(1).write().mode("overwrite").parquet(out.toString());
      }
    } catch (Throwable t) {
      err = t.getClass().getSimpleName();
    }
    dropCheckpoints(spark);
    return err;
  }

  /** Bench drops leftover localCheckpoint RDDs after every query; so does this client. */
  private static void dropCheckpoints(SparkSession spark) {
    scala.collection.Iterator<org.apache.spark.rdd.RDD<?>> rdds =
        spark.sparkContext().getPersistentRDDs().valuesIterator();
    while (rdds.hasNext()) rdds.next().unpersist(false);
  }

  private static String secs(long t0) {
    return String.format(java.util.Locale.ROOT, "%.6f", (System.nanoTime() - t0) / 1e9);
  }

  private static String env(String key, String dflt) {
    String v = System.getenv(key);
    return v == null ? dflt : v;
  }
}
