package graft.core

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileUtil, Path}

/** The one crash loop over [[FaultyFs]]: a step is crashed at each of
  * its commit mutations in turn, then once inside its Spark write. After
  * every crash a reader must see the previous state or the next one,
  * and a retry must land the next state exactly once. */
trait CrashChecks extends graft.SparkSpec {

  /** A fresh `faulty://` copy of the local directory `template`. */
  def faultyCopy(template: String): String = {
    val dst = s"${FaultyFs.tempDir("graft_crash")}/dir"
    val local = new Path(template).getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileUtil.copy(local, new Path(template), local,
      new Path(dst.stripPrefix(s"${FaultyFs.Scheme}://")), false,
      spark.sparkContext.hadoopConfiguration)
    dst
  }

  /** Crash `step` everywhere. `fresh()` returns a directory holding the
    * previous state; `observe` is what a reader of it sees (include
    * row multiplicities, so a double landing shows). A retry runs after
    * every crash unless `retryIfLanded` is false, when it runs only if
    * the crash left the previous state (a step that is not idempotent
    * once landed). Returns the number of commit mutations crashed. */
  def everyCrash[S](fresh: () => String, retryIfLanded: Boolean = true)(
      step: String => Unit)(observe: String => S): Int = {
    FaultyFs.install(spark)
    val probe = fresh()
    val prev = observe(probe)
    val n = FaultyFs.count()(step(probe))
    val next = observe(probe)
    assert(n > 0, "the step made no commit mutation")
    ((1 to n).map(_ -> false) :+ (1 -> true)).foreach { case (k, sparkWrite) =>
      val dir = fresh()
      FaultyFs.arm(k, sparkWrite)()
      val threw = try { step(dir); false } catch { case NonFatal(_) => true }
      val (_, fired) = FaultyFs.disarm()
      val where = fired.getOrElse(s"${if (sparkWrite) "Spark write" else "commit"} mutation $k")
      assert(fired.isDefined, s"no fault fired at $where")
      val seen = observe(dir)
      assert(seen == prev || seen == next,
        s"after a crash at $where a reader saw $seen; previous $prev, next $next")
      if (!threw) assert(seen == next, s"the step survived the crash at $where but did not land")
      if (retryIfLanded || seen == prev) {
        step(dir)
        val again = observe(dir)
        assert(again == next, s"retry after a crash at $where landed $again, not $next")
      }
    }
    n
  }
}
