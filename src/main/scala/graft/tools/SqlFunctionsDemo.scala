package graft.tools

import graft.GraftSession

/** Drives the real `spark.sql.extensions` path in a fresh JVM: the session
  * is built with GraftExtensions, so the native graft expressions resolve
  * from plain SQL over the testdata.
  *
  *   sbt "runMain graft.tools.SqlFunctionsDemo"
  */
object SqlFunctionsDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession
      .builder(4)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("documents")
    val rows = spark
      .sql(
        """SELECT doc_id,
          |  simhash64(split(text, ' ')) AS simhash,
          |  size(minhash_signature(token_shingles(split(text, ' '), 3), 32)) AS sig_len
          |FROM documents LIMIT 5""".stripMargin
      )
      .collect()
    rows.foreach(r => println(s"[sql-functions] $r"))
    val ok = rows.length == 5 && rows.forall(_.getAs[Int]("sig_len") == 32)
    println(if (ok) "[sql-functions] OK" else "[sql-functions] FAILED")
    spark.stop()
  }
}
