package graft.tools

/** One-shot generator for x37's FROZEN unigram vocabulary: trains
  * [[graft.operators.Unigram]] on the compare-scale corpus and prints
  * the pinned `Piece` list as Scala source (the bpeMerges recipe —
  * train once, freeze the artifact, gate the APPLY path against it).
  */
object GenUnigramVocab {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val vocab = graft.operators.Unigram.train(docs, "text",
      vocabSize = 64, iters = 2)
    println("// generated by graft.tools.GenUnigramVocab — do not edit")
    vocab.foreach(p =>
      println(s"""    Piece("${p.piece}", ${p.scoreMu}L, ${p.usage}L),"""))
    spark.stop()
  }
}
