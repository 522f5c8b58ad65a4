package perfbench

import java.io.File

/** Training run for the JVM class-data archive that `build.py` dumps: the
  * set-up of each workload, so the classes they load are in
  * the archive. Usage: `ClassArchive <cores> (<workload> <inputs dir> <work dir>)...`.
  */
object ClassArchive {
  def main(args: Array[String]): Unit =
    args.drop(1).grouped(3).foreach { case Array(workload, inputs, work) =>
      val bench = new Bench(Config(workload, units = 0, warmUnits = 0, trace = false, new File(inputs),
        new File(work), new File(work, "record.json"), args(0).toInt, setupReps = 1, inject = ""))
      try bench.run()
      finally bench.close()
    }
}
