package perfbench;

import java.util.ArrayList;
import java.util.Collections;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.Set;

import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.metrics.source.CodegenMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerEvent;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator;
import org.apache.spark.sql.execution.DataSourceScanExec;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec;
import org.apache.spark.sql.execution.adaptive.QueryStageExec;
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec;
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase;
import org.apache.spark.sql.execution.metric.SQLMetric;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart;
import org.apache.spark.sql.util.QueryExecutionListener;
import org.apache.spark.storage.RDDInfo;

/**
 * The traced run's instruments: a SparkListener (jobs, stages and SQL
 * executions), a QueryExecutionListener (Catalyst phase time and scan
 * rows per action) and codegen counters read at each phase boundary.
 * Everything stays in memory; {@link #spans} turns it into the span
 * tree pass > query > build | action > job > stage (release spans sit
 * under the pass, SQL-action spans under the phase that ran them).
 */
final class Trace extends SparkListener implements QueryExecutionListener {

  private final SparkSession spark;
  private final List<Map<String, Object>> jobs = Collections.synchronizedList(new ArrayList<>());
  private final Map<Integer, Integer> stageJob = Collections.synchronizedMap(new HashMap<>());
  private final List<Map<String, Object>> stages = Collections.synchronizedList(new ArrayList<>());
  private final Map<Long, double[]> sqlTimes = Collections.synchronizedMap(new HashMap<>());
  private final List<Map<String, Object>> sqlPending = Collections.synchronizedList(new ArrayList<>());
  /** Scan metric id -> value already counted, so a scan read by several actions counts once. */
  private final Map<Long, Long> scanSeen = Collections.synchronizedMap(new HashMap<>());
  private final Map<Integer, Double> jobEnd = Collections.synchronizedMap(new HashMap<>());
  private final List<long[]> marks = new ArrayList<>();

  Trace(SparkSession spark) { this.spark = spark; }

  void attach() {
    spark.sparkContext().addSparkListener(this);
    spark.listenerManager().register(this);
  }

  void detach() {
    drain();
    spark.sparkContext().removeSparkListener(this);
    spark.listenerManager().unregister(this);
  }

  /** Codegen counters at a phase boundary (build, action, release, end). */
  void mark() {
    marks.add(new long[] {CodeGenerator.compileTime(),
        CodegenMetrics.METRIC_COMPILATION_TIME().getCount()});
  }

  private boolean drain() {
    try {
      spark.sparkContext().listenerBus().waitUntilEmpty(30000);
      return true;
    } catch (java.util.concurrent.TimeoutException e) {
      return false;
    }
  }

  /** Close one execution: per-phase codegen deltas, storage, and its SQL actions. */
  Map<String, Object> finishExec(long storedBefore, long storedAfter) {
    mark();
    Map<String, Object> a = new LinkedHashMap<>();
    List<List<Long>> compile = new ArrayList<>();
    for (int i = 1; i < marks.size(); i++) {
      compile.add(List.of(marks.get(i)[0] - marks.get(i - 1)[0],
          marks.get(i)[1] - marks.get(i - 1)[1]));
    }
    marks.clear();
    a.put("compile", compile);    // [ns, compiles] per phase, in phase order
    a.put("stored_before", storedBefore);
    a.put("stored_after", storedAfter);
    a.put("drained", drain());
    synchronized (sqlPending) {
      a.put("sql", new ArrayList<>(sqlPending));
      sqlPending.clear();
    }
    return a;
  }

  static long storedBytes(SparkSession spark) {
    long b = 0;
    for (RDDInfo r : spark.sparkContext().getRDDStorageInfo()) b += r.memSize() + r.diskSize();
    return b;
  }

  // ---- SparkListener

  @Override public void onJobStart(SparkListenerJobStart js) {
    Map<String, Object> j = new LinkedHashMap<>();
    j.put("id", js.jobId());
    j.put("start_ms", (double) js.time());
    for (Object s : scala.jdk.javaapi.CollectionConverters.asJava(js.stageIds())) {
      stageJob.put((Integer) s, js.jobId());
    }
    jobs.add(j);
  }

  @Override public void onJobEnd(SparkListenerJobEnd je) {
    jobEnd.put(je.jobId(), (double) je.time());
  }

  @Override public void onStageCompleted(SparkListenerStageCompleted sc) {
    StageInfo si = sc.stageInfo();
    Map<String, Object> s = new LinkedHashMap<>();
    s.put("id", si.stageId() + "." + si.attemptNumber());
    s.put("job", stageJob.get(si.stageId()));
    s.put("start_ms", si.submissionTime().isDefined()
        ? ((Long) si.submissionTime().get()).doubleValue() : null);
    s.put("end_ms", si.completionTime().isDefined()
        ? ((Long) si.completionTime().get()).doubleValue() : null);
    s.put("tasks", si.numTasks());
    TaskMetrics m = si.taskMetrics();
    if (m != null) {
      s.put("run_ms", m.executorRunTime());
      s.put("cpu_ns", m.executorCpuTime());
      s.put("gc_ms", m.jvmGCTime());
      s.put("deser_ms", m.executorDeserializeTime());
      s.put("shuffle_write_bytes", m.shuffleWriteMetrics().bytesWritten());
      s.put("shuffle_read_bytes", m.shuffleReadMetrics().totalBytesRead());
      s.put("spill_bytes", m.memoryBytesSpilled() + m.diskBytesSpilled());
    }
    stages.add(s);
  }

  @Override public void onOtherEvent(SparkListenerEvent ev) {
    if (ev instanceof SparkListenerSQLExecutionStart) {
      SparkListenerSQLExecutionStart s = (SparkListenerSQLExecutionStart) ev;
      sqlTimes.put(s.executionId(), new double[] {s.time(), Double.NaN});
    } else if (ev instanceof SparkListenerSQLExecutionEnd) {
      SparkListenerSQLExecutionEnd e = (SparkListenerSQLExecutionEnd) ev;
      double[] t = sqlTimes.get(e.executionId());
      if (t != null) t[1] = e.time();
    }
  }

  // ---- QueryExecutionListener

  @Override public void onSuccess(String func, QueryExecution qe, long durationNs) {
    record(func, qe, true);
  }

  @Override public void onFailure(String func, QueryExecution qe, Exception err) {
    record(func, qe, false);
  }

  private void record(String func, QueryExecution qe, boolean ok) {
    long planMs = 0;
    for (QueryPlanningTracker.PhaseSummary p :
        scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases()).values()) {
      planMs += p.durationMs();
    }
    long[] rows = {0};
    try {
      scanRows(qe.executedPlan(), rows);
    } catch (Throwable ignored) {
      // a plan that failed to build has no executed plan to walk
    }
    Map<String, Object> r = new LinkedHashMap<>();
    r.put("id", qe.id());
    r.put("func", func);
    r.put("ok", ok);
    r.put("plan_ms", planMs);
    r.put("scan_rows", rows[0]);
    sqlPending.add(r);
  }

  /** Rows output by table scans (file and DSv2), each scan metric counted once per run. */
  private void scanRows(SparkPlan p, long[] acc) {
    if (p instanceof AdaptiveSparkPlanExec) {
      scanRows(((AdaptiveSparkPlanExec) p).executedPlan(), acc);
      return;
    }
    if (p instanceof QueryStageExec) {
      scanRows(((QueryStageExec) p).plan(), acc);
      return;
    }
    if (p instanceof InMemoryTableScanExec) {
      scanRows(((InMemoryTableScanExec) p).relation().cachedPlan(), acc);
      return;
    }
    if (p instanceof DataSourceScanExec || p instanceof DataSourceV2ScanExecBase) {
      scala.Option<SQLMetric> m = p.metrics().get("numOutputRows");
      if (m.isDefined()) {
        long id = m.get().id();
        long v = m.get().value();
        Long before = scanSeen.put(id, v);
        acc[0] += v - (before == null ? 0L : before);
      }
    }
    for (SparkPlan c : scala.jdk.javaapi.CollectionConverters.asJava(p.children())) {
      scanRows(c, acc);
    }
    for (SparkPlan c : scala.jdk.javaapi.CollectionConverters.asJava(p.subqueries())) {
      scanRows(c, acc);
    }
  }

  // ---- span tree

  private static Map<String, Object> span(String id, String parent, String kind, String name,
                                          Object start, Object end) {
    Map<String, Object> s = new LinkedHashMap<>();
    s.put("id", id);
    s.put("parent", parent);
    s.put("kind", kind);
    s.put("name", name);
    s.put("start_ms", start);
    s.put("end_ms", end);
    return s;
  }

  List<Map<String, Object>> spans(List<Map<String, Object>> passes, List<Harness.Exec> execs) {
    List<Map<String, Object>> out = new ArrayList<>();
    // phase intervals, to parent jobs and SQL actions by start time
    List<Object[]> phases = new ArrayList<>();
    Set<Integer> tracedPasses = new java.util.HashSet<>();
    for (Map<String, Object> p : passes) {
      if (!(Boolean) p.get("traced")) continue;
      int idx = (Integer) p.get("index");
      tracedPasses.add(idx);
      Map<String, Object> s = span("p" + idx, null, "pass", (Boolean) p.get("cold") ? "cold" : "warm",
          p.get("start_ms"), p.get("end_ms"));
      out.add(s);
    }
    int n = 0;
    for (Harness.Exec e : execs) {
      n++;
      if (e.traceAttrs == null || !tracedPasses.contains(e.pass)) continue;
      String q = "q" + n;
      Map<String, Object> qs = span(q, "p" + e.pass, "query", e.query, e.t0, e.t2);
      qs.put("error", e.error);
      out.add(qs);
      @SuppressWarnings("unchecked")
      List<List<Long>> compile = (List<List<Long>>) e.traceAttrs.get("compile");
      String[] kinds = {"build", "action", "release"};
      double[][] iv = {{e.t0, e.t1}, {e.t1, e.t2}, {e.t2, e.t3}};
      // a build that threw has no action mark: its compile deltas are build then release
      int[] slot = compile.size() == 3 ? new int[] {0, 1, 2} : new int[] {0, -1, 1};
      for (int k = 0; k < 3; k++) {
        String id = kinds[k].charAt(0) + String.valueOf(n);
        Map<String, Object> s = span(id, k < 2 ? q : "p" + e.pass, kinds[k], e.query, iv[k][0], iv[k][1]);
        List<Long> c = slot[k] >= 0 && slot[k] < compile.size() ? compile.get(slot[k]) : List.of(0L, 0L);
        s.put("compile_ns", c.get(0));
        s.put("compiles", c.get(1));
        if (k == 2) {
          s.put("stored_before", e.traceAttrs.get("stored_before"));
          s.put("stored_after", e.traceAttrs.get("stored_after"));
        }
        out.add(s);
        phases.add(new Object[] {id, iv[k][0], iv[k][1]});
      }
      @SuppressWarnings("unchecked")
      List<Map<String, Object>> sql = (List<Map<String, Object>>) e.traceAttrs.get("sql");
      for (Map<String, Object> r : sql) {
        double[] t = sqlTimes.get((Long) r.get("id"));
        Object start = t == null ? null : t[0];
        Object end = t == null || Double.isNaN(t[1]) ? null : t[1];
        String parent = t == null ? null : phaseAt(phases, t[0]);
        Map<String, Object> s = span("x" + r.get("id"), parent == null ? q : parent, "sql",
            (String) r.get("func"), start, end);
        s.put("plan_ms", r.get("plan_ms"));
        s.put("scan_rows", r.get("scan_rows"));
        s.put("ok", r.get("ok"));
        out.add(s);
      }
    }
    synchronized (jobs) {
      for (Map<String, Object> j : jobs) {
        int id = (Integer) j.get("id");
        double start = (Double) j.get("start_ms");
        Map<String, Object> s = span("j" + id, phaseAt(phases, start), "job", String.valueOf(id),
            start, jobEnd.get(id));
        out.add(s);
      }
    }
    synchronized (stages) {
      for (Map<String, Object> st : stages) {
        Object job = st.get("job");
        Map<String, Object> s = span("s" + st.get("id"), job == null ? null : "j" + job, "stage",
            String.valueOf(st.get("id")), st.get("start_ms"), st.get("end_ms"));
        for (Map.Entry<String, Object> kv : st.entrySet()) {
          if (!s.containsKey(kv.getKey()) && !kv.getKey().equals("job")) s.put(kv.getKey(), kv.getValue());
        }
        out.add(s);
      }
    }
    return out;
  }

  private static String phaseAt(List<Object[]> phases, double t) {
    for (Object[] p : phases) {
      if (t >= (Double) p[1] && t <= (Double) p[2]) return (String) p[0];
    }
    return null;
  }
}
