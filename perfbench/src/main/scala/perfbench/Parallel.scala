package perfbench

import java.util.concurrent.{Executors, TimeUnit}

/** Runs independent set-up tasks on one thread per core. */
object Parallel {
  def run(tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    try {
      tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
        .foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
