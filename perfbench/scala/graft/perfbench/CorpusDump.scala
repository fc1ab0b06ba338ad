package graft.perfbench

/** Writes the fixed dedup corpus (JSON lines), its digest and the program's
  * DuckDB oracle SQL for the two dedup gates into a directory, for
  * `perfbench/oracle.py`.
  */
object CorpusDump {
  val Gates = Seq("p_dedup_survivors", "p_prefix_jaccard")

  def main(argv: Array[String]): Unit = {
    val dir = argv(0)
    val docs = Inputs.corpus
    def put(name: String, lines: Iterable[String]): Unit = {
      val w = new java.io.PrintWriter(s"$dir/$name", "UTF-8")
      try lines.foreach(w.println) finally w.close()
    }
    put("documents.jsonl", docs.map(d => Json.render(Map(
      "doc_id" -> d.doc_id, "text" -> d.text, "lang" -> d.lang, "source" -> d.source,
      "n_chars" -> d.n_chars))))
    put("corpus_sha256.txt", Seq(Inputs.corpusDigest(docs)))
    val oracles = graft.SparkEntry.oracleSql
    Gates.foreach(g => put(s"$g.sql", Seq(oracles(g))))
  }
}
