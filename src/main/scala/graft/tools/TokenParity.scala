package graft.tools

import org.apache.spark.sql.functions._

/** Token-accounting parity audit: for one corpus, the per-document
  * token totals under the four counters the engine ships —
  * whitespace words, the BPE-ish regex approximation
  * ([[graft.functions.TextFunctions.bpeishTokenCount]]), the trained
  * char+`</w>` BPE (q124), byte-level BPE (q256), and the unigram LM
  * (q251) — so SURVEY can state how the approximations relate to the
  * trained counts on this corpus. Usage:
  *
  *   tools/run_main.sh graft.tools.TokenParity /root/testdata/sf0.01
  */
object TokenParity {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, appName = "graft-token-parity")
    import spark.implicits._
    import graft.operators.{Bpe, UnigramLm}
    import graft.functions.TextFunctions

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull)

    val words = docs.select(
      sum(size(filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit("")))).cast("long")).as[Long].first()
    val bpeish = docs.select(
      sum(TextFunctions.bpeishTokenCount(col("text"))).cast("long"))
      .as[Long].first()
    val charBpe = {
      val m = Bpe.train(docs, "text", numMerges = 200)
      Bpe.encode(docs, "doc_id", "text", m).map(_.tokens.length.toLong)
        .reduce(_ + _)
    }
    val byteBpe = {
      val m = Bpe.trainBytes(docs, "text", numMerges = 200)
      Bpe.encodeBytes(docs, "doc_id", "text", m).map(_.tokens.length.toLong)
        .reduce(_ + _)
    }
    val unigram = {
      val m = UnigramLm.fit(docs, "text", maxPieceLen = 4, seedMulti = 100,
        iters = 1)
      UnigramLm.tokenCounts(docs, "doc_id", "text", m)
        .agg(sum(col("n_tokens")).cast("long")).as[Long].first()
    }
    def ratio(n: Long): String = f"${n.toDouble / words}%.3f"
    println(s"""{"sf":"$sfDir","n_words":$words,""" +
      s""""bpeish":$bpeish,"bpeish_per_word":${ratio(bpeish)},""" +
      s""""char_bpe_200":$charBpe,"char_bpe_per_word":${ratio(charBpe)},""" +
      s""""byte_bpe_200":$byteBpe,"byte_bpe_per_word":${ratio(byteBpe)},""" +
      s""""unigram_lm":$unigram,"unigram_per_word":${ratio(unigram)}}""")
    spark.stop()
  }
}
