package perfbench

/** `graft.Verify` with its scratch kept inside the benchmark's build
  * directory: `OracleDump <sfDir> <outDir> <scratchDir>`. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    PerfBench.redirectScratch(args(2))
    graft.Verify.main(args.take(2))
  }
}
