package graft.table

import graft.SparkTestBase

class LanceMdtProbeSpec extends SparkTestBase {
  test("probe: colstats load over golden v9 lance table") {
    val nonPart = Fixtures.table(
      "sample_table/cow/v9_lance_nonpartitioned.zip", "v9_lance_nonpartitioned")
    assume(nonPart.isDefined)
    val t = HudiTable(spark, nonPart.get)
    println("PROBE isAvailable: " + ColumnStatsIndex.isAvailable(t.config))
    try {
      val lookup = ColumnStatsIndex.load(nonPart.get, t.hadoopConf)
      println("PROBE stats files: " + lookup.files.size)
      lookup.files.take(2).foreach { case (f, s) =>
        println(s"PROBE file $f cols ${s.ranges.keySet}")
      }
      println("PROBE columnStats: " + t.columnStats.size)
    } catch { case e: Throwable => println("PROBE LOAD FAILED: " + e) }
  }
}
