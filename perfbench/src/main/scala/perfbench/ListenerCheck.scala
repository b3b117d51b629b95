package perfbench

import java.util.Properties
import org.apache.spark.scheduler._

/** Feeds LayerListener partial event streams and checks what it records:
  * a job ending without a seen start, a task ending without metrics or
  * task info on an unknown stage, and a stage submitted without properties
  * must not throw. Exits non-zero on the first failed check.
  *
  *   java -cp <classes>:<spark jars>/'*' perfbench.ListenerCheck
  */
object ListenerCheck {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAILED: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val l = new LayerListener
    val props = new Properties
    props.setProperty("spark.jobGroup.id", "layer")

    l.onJobEnd(SparkListenerJobEnd(7, 1000L, JobSucceeded))
    l.onTaskEnd(SparkListenerTaskEnd(99, 0, "ResultTask", org.apache.spark.Success,
      null, null, null))
    l.onStageSubmitted(SparkListenerStageSubmitted(
      new StageInfo(5, 0, "s", 1, Nil, Nil, "", resourceProfileId = 0), null))
    check(l.stats("layer").jobs == 0, "unseen job counted")
    check(l.stats(LayerListener.NoGroup).jobs == 0, "job end alone counted as a job")

    l.onJobStart(SparkListenerJobStart(1, 2000L, Nil, props))
    l.onJobStart(SparkListenerJobStart(2, 2500L, Nil, props))
    l.onJobEnd(SparkListenerJobEnd(1, 3000L, JobSucceeded))
    l.onJobEnd(SparkListenerJobEnd(2, 4000L, JobSucceeded))
    l.onJobEnd(SparkListenerJobEnd(2, 4500L, JobSucceeded))
    val s = l.stats("layer")
    check(s.jobs == 2, s"2 jobs expected, got ${s.jobs}")
    check(math.abs(s.busyS - 2.0) < 1e-9, s"busy 2.0 s expected, got ${s.busyS}")
    check(l.stats("absent") == GroupStats(0, 0, 0, 0, 0, 0, 0, 0), "absent group not zero")

    check(LayerListener.unionSeconds(Nil) == 0.0, "empty union")
    check(LayerListener.unionSeconds(Seq((0L, 1000L), (500L, 1500L), (3000L, 3500L))) == 2.0,
      "overlapping intervals")
    println("ListenerCheck: ok")
  }
}
