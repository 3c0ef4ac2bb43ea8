package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/**
 * Counts ERROR log events while armed (the timed region). Every one is a
 * failed operation, except one benign class: DAGScheduler's "Failed to
 * update accumulator N", logged when a late task-completion event meets an
 * accumulator the driver has already garbage-collected. That case is
 * recognised only when a record of N's collection arrived first while
 * armed: AccumulatorContext's "Attempted to access garbage collected
 * accumulator N" WARN (weak reference cleared), or the ContextCleaner's
 * removal of N (reported through [[gcCleaned]]; the ERROR then reads
 * "non-existent accumulator"). The same ERROR without such a record counts
 * as a failure.
 */
final class ErrorTrap extends AbstractAppender(
    "graftbench-error-trap", null, null, true, Property.EMPTY_ARRAY) {
  val errors = new ConcurrentLinkedQueue[String]()
  val benign = new AtomicLong()
  @volatile private var armed = false
  private val gcWarned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val GcWarn = "Attempted to access garbage collected accumulator (\\d+)".r.unanchored
  private val AccError = "Failed to update accumulator (\\d+)".r.unanchored

  def arm(): Unit = { gcWarned.clear(); armed = true }
  /** The ContextCleaner removed garbage-collected accumulator `id`. */
  def gcCleaned(id: Long): Unit = if (armed) { gcWarned.add(id.toString); () }
  def disarm(): Unit = armed = false
  def errorCount: Long = errors.size.toLong

  override def append(e: LogEvent): Unit = if (armed) {
    val msg = e.getMessage.getFormattedMessage
    if (e.getLevel == Level.WARN) msg match {
      case GcWarn(id) if e.getLoggerName.endsWith("AccumulatorContext") =>
        gcWarned.add(id); ()
      case _ => ()
    } else if (e.getLevel.isMoreSpecificThan(Level.ERROR)) msg match {
      case AccError(id) if e.getLoggerName.endsWith("DAGScheduler") &&
          gcWarned.contains(id) =>
        benign.incrementAndGet(); ()
      case _ =>
        errors.add(s"${e.getLoggerName}: $msg" + Option(e.getThrown)
          .map(t => s" [${t.getClass.getName}: ${t.getMessage}]").getOrElse(""))
        ()
    }
  }
}

object ErrorTrap {
  /** Attach a trap to the root logger (it sees WARN and above) and to the
    * ContextCleaner's accumulator removals. */
  def install(sc: Option[org.apache.spark.SparkContext]): ErrorTrap = {
    val trap = new ErrorTrap
    trap.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(trap, Level.WARN, null)
    ctx.updateLoggers()
    sc.foreach(org.apache.spark.AccumulatorCleanup.onCleaned(_)(trap.gcCleaned))
    trap
  }
}

/** `python3 perfbench/run.py --selftest`: an injected ERROR and an
  * accumulator ERROR with no record of the accumulator's collection must
  * both count; accumulator ERRORs after a GC WARN or a cleaner removal of
  * the same accumulator are benign, and only while armed. Exits nonzero on
  * any miscount. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(Level.WARN)
    val trap = ErrorTrap.install(None)
    val dag = LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler")
    val acc = LogManager.getLogger("org.apache.spark.util.AccumulatorContext")
    def accError(id: Int, task: Int) =
      dag.error(s"Failed to update accumulator $id (Unknown class) for task $task")
    // unarmed: nothing is counted, not even a benign pair
    acc.warn("Attempted to access garbage collected accumulator 7")
    accError(7, 0)
    LogManager.getLogger("graftbench").error("selftest: unarmed error")
    val unarmed = (trap.errorCount, trap.benign.get)
    trap.arm()
    LogManager.getLogger("graftbench").error("selftest: injected ERROR event")
    accError(11, 3)                       // no record of a collection: counts
    acc.warn("Attempted to access garbage collected accumulator 12")
    accError(12, 4); accError(12, 5)      // after its WARN: benign
    trap.gcCleaned(13)
    accError(13, 6)                       // after its cleaner removal: benign
    accError(14, 7)                       // another id's records don't pair
    trap.disarm()
    val armed = (trap.errorCount, trap.benign.get)
    val ok = unarmed == ((0L, 0L)) && armed == ((3L, 3L))
    System.err.println(s"[selftest] unarmed (errors, benign) = $unarmed, " +
      s"armed = $armed, expected (0,0) and (3,3)")
    println(s"""{"selftest": ${if (ok) "\"pass\"" else "\"fail\""}}""")
    sys.exit(if (ok) 0 else 1)
  }
}
