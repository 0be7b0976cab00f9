package graft

import org.apache.spark.sql.functions._
import graft.ext.{ChaoRichness, FightinWords, Readability, TextRank}
import graft.streaming.TextStatsStore

/** Streaming text-stats store: all four live views (Chao richness,
  * fightin' words, readability, TextRank) equal their batch operators
  * over the absorbed corpus at every prefix — including documents
  * split across batches per source (the per-key sum monoid under
  * test) — replay is idempotent, compaction inert. */
class TextStatsStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("all four views == batch at every prefix; replay; compaction") {
    val tmp = tempDir("textstats")
      .toFile.getAbsolutePath
    val docs = Tables(spark, dir, "documents").localCheckpoint()
    val parts = (0 until 3).map(i =>
      docs.filter(abs(hash(col("doc_id"))) % 3 === i).localCheckpoint())
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def views = Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)](
      ("chao", ChaoRichness.chaoRichness _),
      ("fightin", FightinWords.fightinWords _),
      ("readability", Readability.readability _),
      ("textrank", TextRank.textrank _))
    def live(name: String) = name match {
      case "chao" => TextStatsStore.chaoView(spark, tmp)
      case "fightin" => TextStatsStore.fightinWordsView(spark, tmp)
      case "readability" => TextStatsStore.readabilityView(spark, tmp)
      case "textrank" => TextStatsStore.textrankView(spark, tmp)
    }
    (0 until 3).foreach { i =>
      TextStatsStore.appendTextBatch(spark, parts(i), tmp, i.toLong)
      val prefix = parts.take(i + 1).reduce(_ unionAll _)
      views.foreach { case (name, batch) =>
        assert(rows(live(name)) === rows(batch(prefix)),
          s"$name after batch $i")
      }
    }
    val full = views.map { case (name, batch) =>
      name -> rows(batch(docs)) }.toMap
    views.foreach { case (name, _) =>
      assert(rows(live(name)) === full(name), s"$name vs full corpus")
    }
    // replay the newest batch: same batch dirs rewritten
    TextStatsStore.appendTextBatch(spark, parts(2), tmp, 2L)
    views.foreach { case (name, _) =>
      assert(rows(live(name)) === full(name), s"$name after replay")
    }
    // compaction folds the committed deltas on all three sub-stores
    Seq(TextStatsStore.wcStore(tmp), TextStatsStore.rdStore(tmp),
      TextStatsStore.bgStore(tmp)).foreach(_.compact(spark, 2L))
    views.foreach { case (name, _) =>
      assert(rows(live(name)) === full(name), s"$name after compaction")
    }
  }
}
