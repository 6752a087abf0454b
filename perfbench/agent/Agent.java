package perfbench;

import java.io.ByteArrayInputStream;
import java.lang.instrument.ClassFileTransformer;
import java.lang.instrument.Instrumentation;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.nio.file.StandardCopyOption;
import java.security.ProtectionDomain;
import java.util.HashMap;
import java.util.HashSet;
import java.util.Map;
import java.util.Set;

import javassist.ClassPool;
import javassist.CtClass;
import javassist.CtMethod;
import javassist.CtNewMethod;
import javassist.LoaderClassPath;
import javassist.bytecode.AccessFlag;

/** Java agent for the traced run: wraps the public entry points of the
  * server's layers with Trace.enter/exit, and writes what Trace and
  * ExecListener collected as JSON.
  *
  * Argument: the output path P. When the file P.mark<k> appears, the
  * agent writes a snapshot of all counters to P.snap<k>; at JVM exit it
  * writes the counters and every span to P.
  */
public final class Agent {
  /** internal class name -> {method name -> layer id} */
  private static final Map<String, Map<String, Integer>> TARGETS = new HashMap<>();
  private static void target(String cls, String method, int id) {
    TARGETS.computeIfAbsent(cls, k -> new HashMap<>()).put(method, id);
  }
  static {
    target("graft/server/ConnectionHandler", "dispatch", Trace.DISPATCH);
    target("org/apache/spark/sql/classic/SparkSession", "newSession", 1);
    target("graft/Functions$", "registerAll", 2);
    target("graft/Tables$", "registerAll", 3);
    target("graft/server/PgTypes$", "render", Trace.ENCODE);
    target("graft/server/PgTypes$", "renderBinary", Trace.ENCODE);
    target("graft/server/ConnectionHandler", "copyInDone", 5);
    target("graft/server/Dml$", "update", 6);
    target("graft/server/Dml$", "delete", 6);
    target("graft/server/PgCatalogShim$", "intercept", 7);
    target("graft/SqlRewrites$", "rewriteFull", 8);
    target("graft/Engine$", "query", Trace.ENGINE);
    target("org/apache/spark/sql/catalyst/QueryPlanningTracker", "measurePhase", Trace.PHASE);
  }

  static volatile double nsPerCall;
  static final StringBuilder errors = new StringBuilder();

  public static void premain(String args, Instrumentation inst) {
    nsPerCall = Trace.calibrateNsPerCall();
    inst.addTransformer(new ClassFileTransformer() {
      @Override public byte[] transform(ClassLoader loader, String name, Class<?> redefined,
          ProtectionDomain pd, byte[] bytes) {
        Map<String, Integer> methods = name == null ? null : TARGETS.get(name);
        return methods == null ? null : instrument(loader, bytes, methods);
      }
    });
    Path out = Paths.get(args);
    Thread poll = new Thread(() -> pollMarks(out), "perfbench-snapshots");
    poll.setDaemon(true);
    poll.start();
    Runtime.getRuntime().addShutdownHook(new Thread(() -> write(out, dump(true))));
  }

  private static byte[] instrument(ClassLoader loader, byte[] bytes, Map<String, Integer> methods) {
    try {
      ClassPool pool = new ClassPool(true);
      if (loader != null) pool.appendClassPath(new LoaderClassPath(loader));
      CtClass cc = pool.makeClass(new ByteArrayInputStream(bytes));
      Set<String> missing = new HashSet<>(methods.keySet());
      for (CtMethod m : cc.getDeclaredMethods()) {
        Integer id = methods.get(m.getName());
        int flags = m.getMethodInfo().getAccessFlags();
        if (id == null || m.isEmpty() || (flags & (AccessFlag.BRIDGE | AccessFlag.SYNTHETIC)) != 0)
          continue;
        wrap(cc, m, id);
        missing.remove(m.getName());
      }
      if (!missing.isEmpty())
        synchronized (errors) { errors.append(cc.getName()).append(" has no ").append(missing).append("; "); }
      byte[] b = cc.toBytecode();
      cc.detach();
      return b;
    } catch (Throwable t) {
      synchronized (errors) { errors.append(t).append("; "); }
      return null;
    }
  }

  /** Renames m to m$pb and gives m a body that calls it between
    * Trace.enter and Trace.exit. (Editing the original body in place
    * breaks the verifier on Scala's bytecode.) */
  private static void wrap(CtClass cc, CtMethod m, int id) throws Exception {
    String name = m.getName();
    String type = m.getReturnType().getName();
    CtMethod impl = CtNewMethod.copy(m, name + "$pb", cc, null);
    cc.addMethod(impl);
    String enter = id == Trace.DISPATCH ? "perfbench.Trace.enterDispatch((int) $1.msgType());"
        : id == Trace.PHASE ? "perfbench.Trace.enterPhase($1);"
        : "perfbench.Trace.enter(" + id + ");";
    String exit = id == Trace.DISPATCH ? "perfbench.Trace.exitDispatch((int) $1.msgType());"
        : id == Trace.PHASE ? "perfbench.Trace.exitPhase();"
        : id == Trace.ENCODE ? "perfbench.Trace.exitEncode((Object) r);"
        : "perfbench.Trace.exit(" + id + ");";
    String call = name + "$pb($$);";
    String onThrow = id == Trace.ENCODE ? "perfbench.Trace.exitEncode(null);" : exit;
    StringBuilder body = new StringBuilder("{ ").append(enter);
    if (type.equals("void")) {
      body.append(" try { ").append(call).append(" } catch (Throwable t) { ")
          .append(onThrow).append(" throw t; } ").append(exit).append(" }");
    } else {
      body.append(' ').append(type).append(" r; try { r = ").append(call)
          .append(" } catch (Throwable t) { ").append(onThrow).append(" throw t; } ")
          .append(exit).append(" return r; }");
    }
    m.setBody(body.toString());
  }

  private static void pollMarks(Path out) {
    int k = 1;
    while (true) {
      Path mark = Paths.get(out + ".mark" + k);
      if (Files.exists(mark)) {
        drainListenerBus();
        write(Paths.get(out + ".snap" + k), dump(false));
        k++;
      } else {
        try { Thread.sleep(10); } catch (InterruptedException e) { return; }
      }
    }
  }

  /** Delivers the Spark events still queued on the listener bus, so
    * that a snapshot counts every job, stage and task that ended before
    * it, and none that ends after it. */
  private static void drainListenerBus() {
    try {
      scala.Option<org.apache.spark.SparkContext> sc =
          org.apache.spark.SparkContext$.MODULE$.getActive();
      if (sc.isDefined()) sc.get().listenerBus().waitUntilEmpty();
    } catch (Exception e) {
      synchronized (errors) { errors.append("listener bus not drained: ").append(e).append("; "); }
    }
  }

  private static void write(Path p, String json) {
    try {
      Path tmp = Paths.get(p + ".tmp");
      Files.write(tmp, json.getBytes(StandardCharsets.UTF_8));
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE);
    } catch (Exception e) {
      System.err.println("perfbench agent: cannot write " + p + ": " + e);
    }
  }

  private static String longs(java.util.Collection<long[]> rows) {
    StringBuilder b = new StringBuilder("[");
    boolean first = true;
    for (long[] r : rows) {
      if (!first) b.append(',');
      first = false;
      b.append('[');
      for (int i = 0; i < r.length; i++) b.append(i == 0 ? "" : ",").append(r[i]);
      b.append(']');
    }
    return b.append(']').toString();
  }

  static String dump(boolean full) {
    StringBuilder b = new StringBuilder("{");
    b.append("\"mono_ns\":").append(System.nanoTime());
    b.append(",\"epoch_ms\":").append(System.currentTimeMillis());
    b.append(",\"ns_per_call\":").append(nsPerCall);
    b.append(",\"master\":").append(DumpSql.quote(ExecListener.master));
    int dp = -1;
    try {
      scala.Option<org.apache.spark.SparkContext> sc =
          org.apache.spark.SparkContext$.MODULE$.getActive();
      if (sc.isDefined()) dp = sc.get().defaultParallelism();
    } catch (RuntimeException e) { /* context gone at exit */ }
    b.append(",\"default_parallelism\":").append(dp);
    b.append(",\"statements\":").append(Trace.statements.get());
    b.append(",\"layers\":{");
    for (int i = 0; i < Trace.N; i++) {
      if (i == Trace.CALIBRATION) continue;
      b.append(i == 0 ? "" : ",").append(DumpSql.quote(Trace.NAMES[i])).append(":{")
          .append("\"calls\":").append(Trace.calls.get(i))
          .append(",\"total_ns\":").append(Trace.totalNs.get(i))
          .append(",\"self_ns\":").append(Trace.selfNs.get(i))
          .append(",\"setup_ns\":").append(Trace.setupNs.get(i))
          .append(",\"bytes\":").append(Trace.bytes.get(i)).append('}');
    }
    b.append("},\"exec\":{")
        .append("\"jobs\":").append(ExecListener.jobs.get())
        .append(",\"stages\":").append(ExecListener.stages.get())
        .append(",\"tasks\":").append(ExecListener.tasks.get())
        .append(",\"empty_tasks\":").append(ExecListener.emptyTasks.get())
        .append(",\"job_ms\":").append(ExecListener.jobMs.get())
        .append(",\"task_run_ms\":").append(ExecListener.taskRunMs.get())
        .append(",\"task_cpu_ns\":").append(ExecListener.taskCpuNs.get())
        .append(",\"gc_ms\":").append(ExecListener.gcMs.get())
        .append(",\"scheduler_delay_ms\":").append(ExecListener.schedulerDelayMs.get())
        .append(",\"shuffle_write_bytes\":").append(ExecListener.shuffleWriteBytes.get())
        .append(",\"shuffle_read_bytes\":").append(ExecListener.shuffleReadBytes.get())
        .append(",\"spill_bytes\":").append(ExecListener.spillBytes.get())
        .append(",\"input_bytes\":").append(ExecListener.inputBytes.get())
        .append(",\"input_records\":").append(ExecListener.inputRecords.get())
        .append("},\"phases_ns\":{");
    boolean first = true;
    for (Map.Entry<String, java.util.concurrent.atomic.AtomicLong> e : Trace.phaseNs.entrySet()) {
      b.append(first ? "" : ",").append(DumpSql.quote(e.getKey())).append(':').append(e.getValue().get());
      first = false;
    }
    b.append('}');
    synchronized (errors) { b.append(",\"errors\":").append(DumpSql.quote(errors.toString())); }
    if (full) {
      b.append(",\"spans\":").append(longs(Trace.spans));
      b.append(",\"jobs\":").append(longs(ExecListener.jobSpans));
    }
    return b.append('}').toString();
  }
}
