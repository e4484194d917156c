package perfbench;

import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.Properties;
import java.util.regex.Matcher;
import java.util.regex.Pattern;

import org.apache.spark.SparkConf;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerApplicationEnd;
import org.apache.spark.scheduler.SparkListenerEvent;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart;
import org.apache.spark.sql.streaming.StreamingQueryListener;

/**
 * Job-level spans of an unmodified program, for the benchmark's traced run.
 *
 * <p>Injected from outside through system properties:
 * {@code -Dspark.extraListeners=perfbench.Trace
 * -Dspark.sql.streaming.streamingQueryListeners=perfbench.Trace$Streaming
 * -Dspark.perfbench.trace=<file>}. Spans stay in memory; the file is written
 * once, at application end or JVM exit, whichever comes first. Each job
 * carries its call site, SQL execution, streaming batch id and the
 * {@code perfbench.row} local property, plus task-metric sums. Each SQL
 * execution carries its description (the call site of the action), its
 * start and end, and the number of distinct JSON-function calls in its
 * physical plan.
 *
 * <p>A sampler thread also records, every {@value #SAMPLE_MS} ms, the
 * innermost program frame ({@code graft.*}) of each driver thread that runs
 * the program's code ({@code main} and streaming query threads), named after
 * the API it was calling. Spark replaces the call site of every job a
 * streaming query runs with the query's start site, so the samples are what
 * maps those jobs, and the driver time around them, to layers.
 */
public final class Trace extends SparkListener {
  private static final Pattern FRAME = Pattern.compile(
      "^\\s*(?:at\\s+)?([\\w$.]+)\\.([\\w$]+)\\(([\\w$]+\\.(?:scala|java)):(\\d+)\\)");
  private static final Pattern SITE = Pattern.compile("[\\w$]+ at [\\w$]+\\.(scala|java):\\d+");
  private static final Pattern JSON_FN = Pattern.compile(
      "\\b(get_json_object|from_json|json_object_keys|json_tuple|jsoncellisstring|json_cell_is_string)\\(",
      Pattern.CASE_INSENSITIVE);

  private static final class Job {
    final int id;
    final long start;
    final String callSite;
    final String exec;
    final String batch;
    final String row;
    long end = -1;
    boolean ok;
    long tasks, busyMs, gcMs, shuffleWrite, shuffleRead, spill;
    long inBytes, inRecords, outBytes, outRecords;

    Job(int id, long start, String callSite, String exec, String batch, String row) {
      this.id = id;
      this.start = start;
      this.callSite = callSite;
      this.exec = exec;
      this.batch = batch;
      this.row = row;
    }
  }

  private static final Object LOCK = new Object();
  private static final Map<Integer, Job> JOBS = new LinkedHashMap<>();
  private static final Map<Integer, Job> STAGE_JOB = new LinkedHashMap<>();
  private static final Map<Long, String[]> EXECS = new LinkedHashMap<>();
  private static final List<String> PROGRESS = new ArrayList<>();
  private static final StringBuilder SAMPLES = new StringBuilder();
  static final long SAMPLE_MS = 50;
  private static String outPath;
  private static boolean written;

  public Trace(SparkConf conf) {
    synchronized (LOCK) {
      outPath = conf.get("spark.perfbench.trace", null);
    }
    Runtime.getRuntime().addShutdownHook(new Thread(Trace::write, "perfbench-trace"));
    Thread sampler = new Thread(Trace::sample, "perfbench-sampler");
    sampler.setDaemon(true);
    sampler.start();
  }

  private static void sample() {
    List<Thread> targets = new ArrayList<>();
    long lastScan = 0;
    while (true) {
      long now = System.currentTimeMillis();
      if (now - lastScan > 1000) {
        // Enumerate through the thread groups: getAllStackTraces would stop
        // every thread to capture stacks that are not needed here.
        ThreadGroup root = Thread.currentThread().getThreadGroup();
        while (root.getParent() != null) root = root.getParent();
        Thread[] all = new Thread[root.activeCount() * 2 + 16];
        int n = root.enumerate(all, true);
        targets.clear();
        for (int i = 0; i < n; i++) {
          String name = all[i].getName();
          if (name.equals("main") || name.startsWith("stream execution thread")) {
            targets.add(all[i]);
          }
        }
        lastScan = now;
      }
      for (Thread t : targets) {
        String site = innermostProgramFrame(t.getStackTrace());
        synchronized (LOCK) {
          if (written) return;
          if (SAMPLES.length() > 0) SAMPLES.append(',');
          SAMPLES.append('[').append(now).append(',').append(t.getId()).append(',')
              .append(Json.str(site)).append(']');
        }
      }
      try {
        Thread.sleep(SAMPLE_MS);
      } catch (InterruptedException e) {
        return;
      }
    }
  }

  private static String innermostProgramFrame(StackTraceElement[] stack) {
    for (int i = 0; i < stack.length; i++) {
      if (stack[i].getClassName().startsWith("graft.")) {
        String api = i > 0 ? stack[i - 1].getMethodName() : stack[i].getMethodName();
        return api + " at " + stack[i].getFileName() + ":" + stack[i].getLineNumber();
      }
    }
    return "";
  }

  private static String prop(Properties p, String key) {
    return p == null ? null : p.getProperty(key);
  }

  @Override
  public void onJobStart(SparkListenerJobStart e) {
    Properties p = e.properties();
    String site = prop(p, "callSite.short");
    StageInfo last = null;
    scala.collection.Iterator<StageInfo> it = e.stageInfos().iterator();
    List<Integer> stages = new ArrayList<>();
    while (it.hasNext()) {
      StageInfo s = it.next();
      stages.add(s.stageId());
      if (last == null || s.stageId() > last.stageId()) last = s;
    }
    if (site == null && last != null) site = last.name();
    Job job = new Job(e.jobId(), e.time(), site, prop(p, "spark.sql.execution.id"),
        prop(p, "streaming.sql.batchId"), prop(p, "perfbench.row"));
    synchronized (LOCK) {
      JOBS.put(job.id, job);
      for (int s : stages) STAGE_JOB.put(s, job);
    }
  }

  @Override
  public void onJobEnd(SparkListenerJobEnd e) {
    synchronized (LOCK) {
      Job job = JOBS.get(e.jobId());
      if (job != null) {
        job.end = e.time();
        job.ok = e.jobResult() == org.apache.spark.scheduler.JobSucceeded$.MODULE$;
      }
    }
  }

  @Override
  public void onTaskEnd(SparkListenerTaskEnd e) {
    TaskMetrics m = e.taskMetrics();
    synchronized (LOCK) {
      Job job = STAGE_JOB.get(e.stageId());
      if (job == null) return;
      job.tasks++;
      if (m == null) return;
      job.busyMs += m.executorRunTime();
      job.gcMs += m.jvmGCTime();
      job.shuffleWrite += m.shuffleWriteMetrics().bytesWritten();
      job.shuffleRead += m.shuffleReadMetrics().totalBytesRead();
      job.spill += m.memoryBytesSpilled() + m.diskBytesSpilled();
      job.inBytes += m.inputMetrics().bytesRead();
      job.inRecords += m.inputMetrics().recordsRead();
      job.outBytes += m.outputMetrics().bytesWritten();
      job.outRecords += m.outputMetrics().recordsWritten();
    }
  }

  @Override
  public void onOtherEvent(SparkListenerEvent e) {
    if (e instanceof SparkListenerSQLExecutionEnd) {
      SparkListenerSQLExecutionEnd end = (SparkListenerSQLExecutionEnd) e;
      synchronized (LOCK) {
        String[] x = EXECS.get(end.executionId());
        if (x != null) x[2] = Long.toString(end.time());
      }
      return;
    }
    if (!(e instanceof SparkListenerSQLExecutionStart)) return;
    SparkListenerSQLExecutionStart s = (SparkListenerSQLExecutionStart) e;
    // Distinct JSON-function calls in the plan: the formatted plan repeats
    // an expression in every node that carries it, each is evaluated once.
    java.util.Set<String> calls = new java.util.HashSet<>();
    String plan = s.physicalPlanDescription();
    if (plan != null) {
      Matcher m = JSON_FN.matcher(plan);
      while (m.find()) {
        int depth = 0;
        int i = m.end() - 1;
        for (; i < plan.length(); i++) {
          char c = plan.charAt(i);
          if (c == '(') depth++;
          else if (c == ')' && --depth == 0) break;
        }
        calls.add(plan.substring(m.start(), Math.min(i + 1, plan.length())));
      }
    }
    int fns = calls.size();
    synchronized (LOCK) {
      EXECS.put(s.executionId(), new String[] {
          siteOf(s.details(), s.description()), Long.toString(s.time()), "-1",
          Integer.toString(fns)});
    }
  }

  /**
   * The execution's description when it is a call site ("collect at
   * Constraints.scala:229"); otherwise "{method} at {file}:{line}" of the
   * first program frame ({@code graft.*}) of its call stack. Streaming
   * batches replace the description with the batch's, so the stack is the
   * fallback there.
   */
  static String siteOf(String stack, String description) {
    if (description != null && SITE.matcher(description).matches()) return description;
    if (stack != null) {
      for (String line : stack.split("\n")) {
        Matcher m = FRAME.matcher(line);
        if (m.find() && m.group(1).startsWith("graft.")) {
          return m.group(2) + " at " + m.group(3) + ":" + m.group(4);
        }
      }
    }
    return description;
  }

  @Override
  public void onApplicationEnd(SparkListenerApplicationEnd e) {
    write();
  }

  /** Streaming-query progress, one JSON object per micro-batch. */
  public static final class Streaming extends StreamingQueryListener {
    public Streaming() {}

    @Override public void onQueryStarted(QueryStartedEvent e) {}

    @Override
    public void onQueryProgress(QueryProgressEvent e) {
      String json = e.progress().json();
      synchronized (LOCK) {
        PROGRESS.add(json);
      }
    }

    @Override public void onQueryTerminated(QueryTerminatedEvent e) {}
  }

  private static void write() {
    StringBuilder sb = new StringBuilder();
    String path;
    synchronized (LOCK) {
      if (written || outPath == null) return;
      written = true;
      path = outPath;
      sb.append("{\"jobs\":[");
      boolean first = true;
      for (Job j : JOBS.values()) {
        if (!first) sb.append(',');
        first = false;
        sb.append("{\"id\":").append(j.id)
            .append(",\"start\":").append(j.start)
            .append(",\"end\":").append(j.end)
            .append(",\"ok\":").append(j.ok)
            .append(",\"callsite\":").append(Json.str(j.callSite))
            .append(",\"exec\":").append(j.exec)
            .append(",\"batch\":").append(j.batch == null ? "null" : j.batch)
            .append(",\"row\":").append(Json.str(j.row))
            .append(",\"tasks\":").append(j.tasks)
            .append(",\"busy_ms\":").append(j.busyMs)
            .append(",\"gc_ms\":").append(j.gcMs)
            .append(",\"shuffle_write\":").append(j.shuffleWrite)
            .append(",\"shuffle_read\":").append(j.shuffleRead)
            .append(",\"spill\":").append(j.spill)
            .append(",\"in_bytes\":").append(j.inBytes)
            .append(",\"in_records\":").append(j.inRecords)
            .append(",\"out_bytes\":").append(j.outBytes)
            .append(",\"out_records\":").append(j.outRecords)
            .append('}');
      }
      sb.append("],\"execs\":[");
      first = true;
      for (Map.Entry<Long, String[]> x : EXECS.entrySet()) {
        if (!first) sb.append(',');
        first = false;
        String[] v = x.getValue();
        sb.append("{\"id\":").append(x.getKey())
            .append(",\"desc\":").append(Json.str(v[0]))
            .append(",\"start\":").append(v[1])
            .append(",\"end\":").append(v[2])
            .append(",\"json_fns\":").append(v[3])
            .append('}');
      }
      sb.append("],\"samples\":[").append(SAMPLES)
          .append("],\"progress\":[").append(String.join(",", PROGRESS)).append("]}");
    }
    try {
      Files.write(Paths.get(path), sb.toString().getBytes(StandardCharsets.UTF_8));
    } catch (java.io.IOException ex) {
      System.err.println("[perfbench] trace write failed: " + ex);
    }
  }
}
