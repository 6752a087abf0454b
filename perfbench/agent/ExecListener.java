package perfbench;

import java.util.concurrent.ConcurrentLinkedQueue;
import java.util.concurrent.atomic.AtomicLong;

import org.apache.spark.SparkConf;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.TaskInfo;

/** Execution-layer counters for the traced run, registered through
  * spark.extraListeners. Job spans carry the connection pid from the
  * server's job group so they can be matched to statements. */
public final class ExecListener extends SparkListener {
  static volatile String master = "";
  static final AtomicLong jobs = new AtomicLong(), stages = new AtomicLong(),
      tasks = new AtomicLong(), emptyTasks = new AtomicLong(),
      taskRunMs = new AtomicLong(), taskCpuNs = new AtomicLong(),
      gcMs = new AtomicLong(), schedulerDelayMs = new AtomicLong(),
      shuffleWriteBytes = new AtomicLong(), shuffleReadBytes = new AtomicLong(),
      spillBytes = new AtomicLong(), inputBytes = new AtomicLong(),
      inputRecords = new AtomicLong(), jobMs = new AtomicLong();
  /** {pid, start ms, end ms} per finished job (epoch ms) */
  static final ConcurrentLinkedQueue<long[]> jobSpans = new ConcurrentLinkedQueue<>();
  private final java.util.concurrent.ConcurrentHashMap<Integer, long[]> open =
      new java.util.concurrent.ConcurrentHashMap<>();

  public ExecListener(SparkConf conf) {
    master = conf.get("spark.master", "");
  }

  @Override public void onJobStart(SparkListenerJobStart e) {
    String g = e.properties() == null ? null : e.properties().getProperty("spark.jobGroup.id");
    long pid = g != null && g.startsWith("pgwire-") ? Long.parseLong(g.substring(7)) : -1;
    open.put(e.jobId(), new long[] {pid, e.time(), 0});
  }

  @Override public void onJobEnd(SparkListenerJobEnd e) {
    jobs.incrementAndGet();
    long[] s = open.remove(e.jobId());
    if (s != null) {
      s[2] = e.time();
      jobMs.addAndGet(s[2] - s[1]);
      jobSpans.add(s);
    }
  }

  @Override public void onStageCompleted(SparkListenerStageCompleted e) {
    stages.incrementAndGet();
  }

  @Override public void onTaskEnd(SparkListenerTaskEnd e) {
    TaskMetrics m = e.taskMetrics();
    TaskInfo info = e.taskInfo();
    tasks.incrementAndGet();
    if (m == null) return;
    taskRunMs.addAndGet(m.executorRunTime());
    taskCpuNs.addAndGet(m.executorCpuTime());
    gcMs.addAndGet(m.jvmGCTime());
    long total = info.finishTime() - info.launchTime();
    schedulerDelayMs.addAndGet(Math.max(0L, total - m.executorRunTime()
        - m.executorDeserializeTime() - m.resultSerializationTime()));
    long sw = m.shuffleWriteMetrics().bytesWritten();
    long sr = m.shuffleReadMetrics().totalBytesRead();
    shuffleWriteBytes.addAndGet(sw);
    shuffleReadBytes.addAndGet(sr);
    spillBytes.addAndGet(m.memoryBytesSpilled() + m.diskBytesSpilled());
    inputBytes.addAndGet(m.inputMetrics().bytesRead());
    inputRecords.addAndGet(m.inputMetrics().recordsRead());
    boolean read = m.inputMetrics().recordsRead() > 0 || m.shuffleReadMetrics().recordsRead() > 0;
    boolean wrote = m.shuffleWriteMetrics().recordsWritten() > 0
        || m.outputMetrics().recordsWritten() > 0 || m.resultSize() > 2048;
    if (!read && !wrote) emptyTasks.incrementAndGet();
  }
}
