package perfbench;

import java.io.File;
import java.lang.management.ManagementFactory;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.security.MessageDigest;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.Random;

import com.fasterxml.jackson.databind.ObjectMapper;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.StructType;

import graft.CacheScope;
import graft.SparkEntry;

/**
 * One benchmark run in one fresh JVM: set up a session, run one cold
 * pass over the workload's queries, then warm passes until the
 * measuring window closes and at least min-warm of them have run. One
 * client, one query at a time.
 *
 * Every execution calls the query's SparkEntry.queries function
 * (build), collects the whole result (action) and releases the query's
 * intermediates with CacheScope.release(spark, blocking = true). Only
 * those three steps are timed. Afterwards, untimed, the result is
 * reduced to a digest of its sorted rows; the first result seen for
 * each digest is kept and written to parquet when the run ends, for the
 * oracle check that follows the run.
 *
 * With trace=1 the Trace listeners are attached to the cold pass and to
 * every second warm pass, between untraced ones (U-T-U at least), and
 * the run also writes the spans they recorded.
 *
 * Options (key=value): data, out, queries (comma list), seed, seconds,
 * min-warm (passes), trace (0|1), cores, setups, inject-wrong (query),
 * inject-error (query).
 * Writes out/run.json.
 */
public final class Harness {

  static final class Exec {
    final String query;
    final int pass;
    double t0, t1, t2, t3;        // epoch ms: start, built, collected, released
    double cpuS;
    String digest;
    String error;
    Map<String, Object> traceAttrs;
    Exec(String query, int pass) { this.query = query; this.pass = pass; }
  }

  static final class Kept {
    final StructType schema;
    final List<Row> rows;
    Kept(StructType schema, List<Row> rows) { this.schema = schema; this.rows = rows; }
  }

  private static final long BASE_MS = System.currentTimeMillis();
  private static final long BASE_NS = System.nanoTime();

  /** Epoch milliseconds on the monotonic clock, comparable with listener event times. */
  static double nowMs() { return BASE_MS + (System.nanoTime() - BASE_NS) / 1e6; }

  static long cpuNanos() {
    return ((com.sun.management.OperatingSystemMXBean)
        ManagementFactory.getOperatingSystemMXBean()).getProcessCpuTime();
  }

  static SparkSession newSession(int cores, String localDir) {
    // the settings of graft.Bench.newSession, plus the JVM-wide ones the
    // repository's build passes to forked runs (UI off, UTC session zone)
    SparkSession spark = SparkSession.builder()
        .master("local[" + cores + "]")
        .config("spark.sql.shuffle.partitions", String.valueOf(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.cleaner.periodicGC.interval", "120min")
        .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
        .config("spark.local.dir", localDir)
        .getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    return spark;
  }

  /** The fixed, workload-independent warm-up: one parquet scan and one shuffle. */
  static void warmup(SparkSession spark, String data) {
    spark.read().parquet(data + "/lineitem.parquet").count();
    spark.range(10000).groupBy(functions.col("id").mod(64)).count().count();
  }

  static String digest(StructType schema, List<Row> rows) throws Exception {
    List<String> lines = new ArrayList<>(rows.size());
    for (Row r : rows) lines.add(r.toString());
    Collections.sort(lines);
    MessageDigest sha = MessageDigest.getInstance("SHA-256");
    sha.update(schema.json().getBytes(StandardCharsets.UTF_8));
    for (String l : lines) {
      sha.update(l.getBytes(StandardCharsets.UTF_8));
      sha.update((byte) '\n');
    }
    StringBuilder hex = new StringBuilder();
    for (byte b : Arrays.copyOf(sha.digest(), 12)) hex.append(String.format("%02x", b));
    return hex.toString();
  }

  /** Negative control: drop the first row, or add an all-null row to an empty result. */
  static List<Row> corrupt(StructType schema, List<Row> rows) {
    if (rows.isEmpty()) return List.of(RowFactory.create(new Object[schema.size()]));
    return new ArrayList<>(rows.subList(1, rows.size()));
  }

  public static void main(String[] args) throws Exception {
    double mainStartMs = System.currentTimeMillis();
    Map<String, String> o = new HashMap<>();
    for (String a : args) {
      int i = a.indexOf('=');
      o.put(a.substring(0, i), a.substring(i + 1));
    }
    String data = o.get("data");
    Path out = Paths.get(o.get("out"));
    List<String> queries = Arrays.asList(o.get("queries").split(","));
    long seed = Long.parseLong(o.get("seed"));
    double seconds = Double.parseDouble(o.get("seconds"));
    boolean trace = "1".equals(o.get("trace"));
    int cores = Integer.parseInt(o.get("cores"));
    int setups = Integer.parseInt(o.get("setups"));
    int minWarm = Integer.parseInt(o.get("min-warm"));
    String injectWrong = o.getOrDefault("inject-wrong", "");
    String injectError = o.getOrDefault("inject-error", "");
    String localDir = out.resolve("spark-local").toString();

    // ---- set-up: session build + fixed warm-up + first SparkEntry access,
    // repeated; the first sample also carries JVM start-up before main()
    double jvmPreMainS =
        (mainStartMs - ManagementFactory.getRuntimeMXBean().getStartTime()) / 1e3;
    List<Double> setupS = new ArrayList<>();
    SparkSession spark = null;
    Map<String, scala.Function2<SparkSession, String, Dataset<Row>>> fns = new HashMap<>();
    for (int i = 0; i < setups; i++) {
      if (spark != null) {
        spark.stop();
        SparkSession.clearActiveSession();
        SparkSession.clearDefaultSession();
      }
      long s0 = System.nanoTime();
      spark = newSession(cores, localDir);
      warmup(spark, data);
      scala.collection.immutable.Map<String,
          scala.Function2<SparkSession, String, Dataset<Row>>> all = SparkEntry.queries();
      for (String q : queries) {
        if (!all.contains(q)) throw new IllegalArgumentException("unknown query " + q);
        fns.put(q, all.apply(q));
      }
      setupS.add((System.nanoTime() - s0) / 1e9 + (i == 0 ? jvmPreMainS : 0.0));
    }

    Trace tracer = trace ? new Trace(spark) : null;
    List<Exec> execs = new ArrayList<>();
    List<Map<String, Object>> passes = new ArrayList<>();
    Map<String, Map<String, Kept>> kept = new LinkedHashMap<>();
    double warmStart = 0;
    int warmDone = 0;
    for (int pass = 0; ; pass++) {
      if (pass == 1) warmStart = nowMs();
      if (pass >= 1) {
        // traced runs end on an untraced pass (at least U-T-U), so the
        // untraced passes bracket the traced ones and warm-up drift cancels
        boolean enough = trace
            ? warmDone >= Math.max(minWarm, 3) && warmDone % 2 == 1
            : warmDone >= minWarm;
        enough = enough && nowMs() - warmStart >= seconds * 1e3;
        if (enough) break;
      }
      // traced: the cold pass and every second warm pass
      boolean traced = trace && pass % 2 == 0;
      if (traced) tracer.attach();
      List<String> order = new ArrayList<>(queries);
      Collections.shuffle(order, new Random(seed * 1_000_003L + pass));
      double p0 = nowMs();
      for (String q : order) {
        Exec e = new Exec(q, pass);
        long cpu0 = cpuNanos();
        List<Row> rows = null;
        StructType schema = null;
        if (traced) tracer.mark();
        e.t0 = nowMs();
        e.t1 = e.t0;
        try {
          if (q.equals(injectError))
            throw new IllegalStateException("injected error (negative control)");
          Dataset<Row> df = fns.get(q).apply(spark, data);
          e.t1 = nowMs();
          if (traced) tracer.mark();
          schema = df.schema();
          rows = df.collectAsList();
        } catch (Throwable t) {
          e.error = t.getClass().getSimpleName() + ": " + String.valueOf(t.getMessage());
          if (e.error.length() > 300) e.error = e.error.substring(0, 300);
        }
        e.t2 = nowMs();
        long storedBefore = traced ? Trace.storedBytes(spark) : 0L;
        if (traced) tracer.mark();
        CacheScope.release(spark, true);
        e.t3 = nowMs();
        e.cpuS = (cpuNanos() - cpu0) / 1e9;
        if (traced) {
          e.traceAttrs = tracer.finishExec(storedBefore, Trace.storedBytes(spark));
        }
        if (rows != null) {
          if (q.equals(injectWrong)) rows = corrupt(schema, rows);
          e.digest = digest(schema, rows);
          Map<String, Kept> byDigest = kept.computeIfAbsent(q, k -> new LinkedHashMap<>());
          if (!byDigest.containsKey(e.digest)) byDigest.put(e.digest, new Kept(schema, rows));
        }
        execs.add(e);
      }
      if (traced) tracer.detach();
      Map<String, Object> p = new LinkedHashMap<>();
      p.put("index", pass);
      p.put("cold", pass == 0);
      p.put("traced", traced);
      p.put("start_ms", p0);
      p.put("end_ms", nowMs());
      passes.add(p);
      if (pass >= 1) warmDone++;
    }
    double rssMb = peakRssMb();

    // ---- untimed: keep each distinct result for the oracle check
    Map<String, Object> results = new LinkedHashMap<>();
    for (Map.Entry<String, Map<String, Kept>> q : kept.entrySet()) {
      Map<String, String> dirs = new LinkedHashMap<>();
      for (Map.Entry<String, Kept> d : q.getValue().entrySet()) {
        String dir = out.resolve("results").resolve(q.getKey()).resolve(d.getKey()).toString();
        try {
          spark.createDataFrame(d.getValue().rows, d.getValue().schema)
              .coalesce(1).write().mode("overwrite").parquet(dir);
          dirs.put(d.getKey(), dir);
        } catch (Throwable t) {
          dirs.put(d.getKey(), null);
        }
      }
      results.put(q.getKey(), dirs);
    }
    Map<String, Object> oracle = new LinkedHashMap<>();
    for (String q : queries) {
      scala.Option<String> sql = SparkEntry.oracleSql().get(q);
      oracle.put(q, sql.isDefined() ? sql.get() : null);
    }
    String sparkVersion = spark.version();
    spark.stop();

    Map<String, Object> doc = new LinkedHashMap<>();
    doc.put("setup_s", setupS);
    doc.put("peak_rss_mb", rssMb);
    doc.put("passes", passes);
    List<Map<String, Object>> ex = new ArrayList<>();
    for (Exec e : execs) {
      Map<String, Object> m = new LinkedHashMap<>();
      m.put("query", e.query);
      m.put("pass", e.pass);
      m.put("t0", e.t0);
      m.put("t1", e.t1);
      m.put("t2", e.t2);
      m.put("t3", e.t3);
      m.put("cpu_s", e.cpuS);
      m.put("digest", e.digest);
      m.put("error", e.error);
      if (e.traceAttrs != null) m.put("trace", e.traceAttrs);
      ex.add(m);
    }
    doc.put("executions", ex);
    doc.put("results", results);
    doc.put("oracle_sql", oracle);
    Map<String, Object> stamp = new LinkedHashMap<>();
    stamp.put("java_version", System.getProperty("java.version"));
    stamp.put("spark_version", sparkVersion);
    stamp.put("max_heap_mb", Runtime.getRuntime().maxMemory() / (1024 * 1024));
    stamp.put("jvm_cpus", Runtime.getRuntime().availableProcessors());
    doc.put("stamp", stamp);
    if (tracer != null) doc.put("spans", tracer.spans(passes, execs));
    Files.createDirectories(out);
    new ObjectMapper().writeValue(new File(out.resolve("run.json").toString()), doc);
  }

  /** Resident-set high-water mark of this JVM (Linux VmHWM), in MiB; -1 elsewhere. */
  static double peakRssMb() {
    try {
      for (String l : Files.readAllLines(Paths.get("/proc/self/status"))) {
        if (l.startsWith("VmHWM:")) {
          return Long.parseLong(l.replaceAll("[^0-9]", "")) / 1024.0;
        }
      }
    } catch (Exception ignored) { }
    return -1;
  }
}
