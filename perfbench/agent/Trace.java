package perfbench;

import java.util.concurrent.ConcurrentHashMap;
import java.util.concurrent.ConcurrentLinkedQueue;
import java.util.concurrent.atomic.AtomicLong;
import java.util.concurrent.atomic.AtomicLongArray;

/** Span and counter store for the traced run. Instrumented methods call
  * enter/exit around their body (the start time lives on a per-thread
  * stack, so the instrumented code needs no local variable); everything stays in memory until the
  * JVM exits (or a snapshot is asked for), then Agent writes it out.
  *
  * Every layer keeps four counters: calls, total time of its outermost
  * calls (recursion is not counted twice), self time (its own time minus
  * the instrumented calls below it), and bytes (encoders only). Layers
  * that are called per statement also record one span per call; the
  * per-cell encoder is counted, not spanned, to keep the overhead down.
  */
public final class Trace {
  /** Layer names, indexed by layer id. */
  public static final String[] NAMES = {
    "server.dispatch",        // 0  one frontend message (statement spans)
    "server.new_session",     // 1  SparkSession.newSession
    "server.functions_reg",   // 2  Functions.registerAll
    "server.tables_reg",      // 3  Tables.registerAll
    "server.encode",          // 4  PgTypes.render / renderBinary
    "server.copy_in",         // 5  ConnectionHandler.copyInDone
    "server.dml",             // 6  Dml.update / Dml.delete
    "server.catalog",         // 7  PgCatalogShim.intercept
    "plans.rewrite",          // 8  SqlRewrites.rewriteFull
    "engine.query",           // 9  Engine.query
    "catalyst.phase",         // 10 QueryPlanningTracker.measurePhase
    "trace.calibration",      // 11 overhead calibration, not reported
  };
  static final int N = NAMES.length;
  static final int DISPATCH = 0, ENCODE = 4, ENGINE = 9, PHASE = 10, CALIBRATION = 11;
  /** layers whose calls are not recorded as spans */
  static final boolean[] COUNT_ONLY = new boolean[N];
  static { COUNT_ONLY[ENCODE] = true; COUNT_ONLY[CALIBRATION] = true; }

  static final AtomicLongArray calls = new AtomicLongArray(N);
  static final AtomicLongArray totalNs = new AtomicLongArray(N);
  static final AtomicLongArray selfNs = new AtomicLongArray(N);
  static final AtomicLongArray bytes = new AtomicLongArray(N);
  /** session-setup layers (1-3) counted only outside statements */
  static final AtomicLongArray setupNs = new AtomicLongArray(N);
  static final AtomicLong statements = new AtomicLong();
  /** Catalyst phase name -> time of its outermost measurePhase calls */
  static final ConcurrentHashMap<String, AtomicLong> phaseNs = new ConcurrentHashMap<>();

  /** {layer, pid, statement, start ns, end ns, self ns, parent layer} */
  static final ConcurrentLinkedQueue<long[]> spans = new ConcurrentLinkedQueue<>();

  static final class Frame {
    final int[] id = new int[256];
    final long[] start = new long[256];
    final long[] child = new long[256];
    final int[] depthOf = new int[N];
    int depth;
    long stmt = -1;
    long pid = -1;
    boolean extendedOpen;
    String phase;
    long lastDur;
  }

  private static final ThreadLocal<Frame> FRAME = ThreadLocal.withInitial(Frame::new);

  public static void enter(int id) {
    Frame f = FRAME.get();
    int d = f.depth++;
    if (d < 256) {
      f.id[d] = id;
      f.child[d] = 0L;
      f.depthOf[id]++;
      f.start[d] = System.nanoTime();
    }
  }

  /** Entry of ConnectionHandler.dispatch: opens a new statement id on
    * Query, or on the first Parse/Bind of an extended-protocol batch. */
  public static void enterDispatch(int msgType) {
    Frame f = FRAME.get();
    if (f.pid < 0) f.pid = connectionPid();
    if (msgType == 'Q' || ((msgType == 'P' || msgType == 'B') && !f.extendedOpen)) {
      f.stmt = statements.incrementAndGet();
      f.extendedOpen = msgType != 'Q';
    }
    enter(DISPATCH);
  }

  public static void exitDispatch(int msgType) {
    exit(DISPATCH);
    if (msgType == 'S') FRAME.get().extendedOpen = false;
  }

  /** @return true when this was the outermost call of the layer */
  public static boolean exit(int id) {
    long t1 = System.nanoTime();
    Frame f = FRAME.get();
    int d = --f.depth;
    if (d >= 256) return false;
    long t0 = f.start[d];
    long dur = t1 - t0;
    f.lastDur = dur;
    long self = dur - f.child[d];
    if (d > 0) f.child[d - 1] += dur;
    f.depthOf[id]--;
    calls.incrementAndGet(id);
    selfNs.addAndGet(id, self);
    if (f.depthOf[id] == 0) {
      totalNs.addAndGet(id, dur);
      if (id >= 1 && id <= 3 && f.depthOf[DISPATCH] == 0) setupNs.addAndGet(id, dur);
    }
    if (!COUNT_ONLY[id])
      spans.add(new long[] {id, f.pid, f.stmt, t0, t1, self, d > 0 ? f.id[d - 1] : -1});
    return f.depthOf[id] == 0;
  }

  /** Entry of QueryPlanningTracker.measurePhase. A phase that runs
    * inside another (a subquery's analysis during planning, say) counts
    * toward the outer one, so the phases add up to wall time. */
  public static void enterPhase(String phase) {
    Frame f = FRAME.get();
    if (f.depthOf[PHASE] == 0) f.phase = phase;
    enter(PHASE);
  }

  public static void exitPhase() {
    Frame f = FRAME.get();
    if (exit(PHASE)) phaseNs.computeIfAbsent(f.phase, k -> new AtomicLong()).addAndGet(f.lastDur);
  }

  /** exit for the encoders: counts the rendered size (chars for text,
    * bytes for binary; NULL counts 0). */
  public static void exitEncode(Object rendered) {
    if (exit(ENCODE) && rendered instanceof scala.Some) {
      Object v = ((scala.Some<?>) rendered).value();
      if (v instanceof String) bytes.addAndGet(ENCODE, ((String) v).length());
      else if (v instanceof byte[]) bytes.addAndGet(ENCODE, ((byte[]) v).length);
    }
  }

  /** the pg backend pid of the connection this thread serves, read
    * from the job group the server sets ("pgwire-<pid>") */
  private static long connectionPid() {
    try {
      String g = org.apache.spark.SparkContext$.MODULE$.getActive().get()
          .getLocalProperty("spark.jobGroup.id");
      if (g != null && g.startsWith("pgwire-")) return Long.parseLong(g.substring(7));
    } catch (RuntimeException e) { /* no context, or not a connection thread */ }
    return -1;
  }

  /** Cost of one enter/exit pair on this machine, measured on the
    * calibration layer, whose counters are then cleared. */
  static double calibrateNsPerCall() {
    int n = 200_000;
    long best = Long.MAX_VALUE;
    for (int round = 0; round < 5; round++) {
      long t = System.nanoTime();
      for (int i = 0; i < n; i++) { enter(CALIBRATION); exit(CALIBRATION); }
      best = Math.min(best, System.nanoTime() - t);
    }
    calls.set(CALIBRATION, 0); totalNs.set(CALIBRATION, 0); selfNs.set(CALIBRATION, 0);
    return (double) best / n;
  }
}
