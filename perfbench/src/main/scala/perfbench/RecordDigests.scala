package perfbench

import java.io.File

/** Records the suite's expected digests: runs every declared query (not
 * only the measured set) once
 * on the benchmark's data and writes perfbench/expected/suite_digests.json.
 * Run it only on code whose outputs match the DuckDB oracle
 * (graft.Verify plus tools/check_oracle.py on the same data). */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val root = new File(".").getCanonicalFile
    val bench = new File(root, "perfbench")
    val work = new File(root, ".bench_build/work/record")
    Result.rmTree(work)
    work.mkdirs()
    val spark = Main.session(s"local[${Main.Cores}]", work)
    val out = new File(bench, "expected/suite_digests.json")
    out.getParentFile.mkdirs()
    if (!out.exists) Suite.writeDigests(out, Nil)
    val suite = new Suite(out, graft.SparkEntry.queries.keys.toSeq.sorted)
    suite.measure(Ctx(spark, 0L, 1, new File(bench, "data/sf0.01"), work), new Trace(false, ""), None)
    spark.stop()
    Suite.writeDigests(out, suite.digests)
    println(s"${suite.digests.size} digests written to $out")
  }
}
