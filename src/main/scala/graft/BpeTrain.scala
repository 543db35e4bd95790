package graft

/** Merge-table trainer CLI:
  * `runMain graft.BpeTrain <parquet> <textCol> <numMerges> <out.txt>`.
  *
  * Runs [[graft.functions.Bpe.train]] — the distributed word-count
  * groupBy plus the driver-side merge loop over the vocabulary-bounded
  * table — and writes the result in the public merges.txt format that
  * [[graft.functions.Bpe.loadFile]], `graft_bpe_count_file`, and the
  * DuckDB oracle loader all read. The shipped default table
  * (`src/main/resources/graft/bpe_merges.txt`) was produced by this
  * loop over the sf0.1 union corpus; BpeSpec pins the training prefix.
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: BpeTrain <input.parquet> <textCol> <numMerges> <out merges.txt>")
    val spark = GraftSession.local()
    val merges = graft.functions.Bpe.train(
      spark.read.parquet(args(0)), args(1), numMerges = args(2).toInt)
    val out = new java.io.PrintWriter(args(3), "UTF-8")
    try {
      out.println(s"#version: 0.2 -- trained by graft.BpeTrain on ${args(0)} (${args(1)})")
      merges.foreach(out.println)
    } finally out.close()
    println(s"[bpetrain] wrote ${merges.size} merges to ${args(3)}")
    spark.stop()
  }
}
