package graft.tools

/** Regenerates the pinned BPE merge table
  * ([[graft.functions.PinnedBpeMerges]]) from the fixed fixture slice.
  * Prints the Scala source of the pin; paste into PinnedBpeMerges.scala
  * after a deliberate fixture change (BpeSpec guards against drift). */
object BpeTrainTool {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("8", "8").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val merges = graft.functions.Bpe.trainPinned(spark)
    println(s"// ${merges.length} merges")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    merges.grouped(4).foreach { g =>
      println("    " + g.map { case (a, b) => s"""("${esc(a)}", "${esc(b)}")""" }.mkString(", ") + ",")
    }
    spark.stop()
  }
}
