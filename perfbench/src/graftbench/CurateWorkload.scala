package graftbench

import graft.operators.{Components, Curate, Dedup}
import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import Record.{dataFiles, deleteRecursively, timed}

/** `curate`: training-data curation. An incremental phase (a signature
  * index written over the corpus, arriving batches probed against it and
  * appended, then a delete and a compaction) and a batch phase
  * (Curate.curate, then Dedup.editDistancePairs).
  */
object CurateWorkload {

  val spec: CorpusGen.Spec = CorpusGen.Spec(baseDocs = 800, batches = 3, batchDocs = 60,
    crossPlantsPerBatch = 6, maxLen = 1000)
  val (shingleN, numHashes, numBands) = (3, 32, 16)

  def run(r: Record): Unit = {
    val spark = r.spark
    import spark.implicits._
    val baseDir = new File(r.work, "corpus_base")
    val batchDir = (i: Int) => new File(r.work, s"corpus_batch_$i")
    val corpus = Setup.repeat(r) { _ =>
      val c = CorpusGen.generate(spec, r.seed)
      (baseDir +: c.batches.indices.map(batchDir)).foreach(deleteRecursively)
      c.base.map(d => (d.id, d.text)).toDF("id", "text").coalesce(2).write.parquet(baseDir.getPath)
      c.batches.zipWithIndex.foreach { case (b, i) =>
        b.map(d => (d.id, d.text)).toDF("id", "text").coalesce(1).write.parquet(batchDir(i).getPath)
      }
      c
    } { c =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (c.base +: c.batches).flatten.foreach(d => md.update(s"${d.id}\t${d.text}\n".getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    val truth = corpus.truth
    val corpusBytes = corpus.base.map(_.text.getBytes("UTF-8").length).sum
    val docs = spark.read.parquet(baseDir.getPath)
    val batches = corpus.batches.indices.map(i => spark.read.parquet(batchDir(i).getPath))

    val deadline = System.nanoTime() + r.seconds * 1000000000L
    var round = 0
    while (round < 1 || System.nanoTime() < deadline) {
      val (_, sec) = timed {
        incrementalPhase(r, docs, batches, truth, corpusBytes, round)
        batchPhase(r, docs, truth, round)
      }
      // every document the round curated: the corpus through the batch
      // operators, the arriving batches through probe and append
      r.sample("rate", (spec.baseDocs + spec.batches * spec.batchDocs) / sec)
      round += 1
    }
    r.markHeap()
    if (r.tracer.enabled) layers(r, docs)
  }

  private def batchPhase(r: Record, docs: DataFrame, truth: CorpusGen.Truth, round: Int): Unit = {
    val (kept, curateSec) = timed(r.tracer.span("curate.curate", s"batch-$round") {
      Curate.curate(docs, "id", "text").select("id").collect().map(_.getLong(0)).toSet
    })
    r.sample("curate.docs_s", spec.baseDocs / curateSec)
    val survivors = truth.exactPairs.filter { case (_, dropped) => kept.contains(dropped) }
    r.check(survivors.isEmpty, s"curate kept exact copies ${survivors.take(3)}")

    (0 until 2).foreach { k =>
      val (pairs, editSec) = timed(r.tracer.span("editdist.full", s"batch-$round-$k") {
        Dedup.editDistancePairs(docs, "id", "text", shingleN, 20)
          .select("d1", "d2").collect().map(p => (p.getLong(0), p.getLong(1))).toSet
      })
      r.sample("secondary_s", editSec)
      val missed = truth.editPairs.filterNot(pairs.contains)
      r.check(missed.isEmpty, s"editDistancePairs missed planted pairs ${missed.take(3)}")
    }
  }

  private def incrementalPhase(r: Record, docs: DataFrame, batches: Seq[DataFrame],
      truth: CorpusGen.Truth, corpusBytes: Long, round: Int): Unit = {
    val tr = r.tracer
    val spark = r.spark
    val idx = new File(r.work, s"index_$round")
    tr.span("index.write", s"round$round") {
      Dedup.writeSignatureIndex(docs, "id", "text", idx.getPath, shingleN, numHashes, numBands)
    }
    r.sample("out_bytes_per_in_byte", dataFiles(idx)._2.toDouble / corpusBytes)
    var corpusText = docs
    batches.zipWithIndex.foreach { case (batch, i) =>
      val req = s"round$round-batch$i"
      // banding candidates against the same index state, outside the timing
      val candidates =
        if (tr.enabled) Dedup.incrementalNearDup(spark, idx.getPath, batch, "id", "text").count() else 0L
      val (found, sec) = timed(tr.span("curate.batch", req) {
        val found = tr.span("index.probe", req) {
          Dedup.incrementalNearDupVerified(spark, idx.getPath, batch, "id", "text", corpusText, 0.6)
            .select("d_new", "d_corpus").collect().map(p => (p.getLong(0), p.getLong(1))).toSet
        }
        tr.span("index.append", req)(Dedup.appendSignatureIndex(spark, idx.getPath, batch, "id", "text"))
        found
      })
      r.sample("op_ms", sec * 1000)
      if (tr.enabled) r.sample("dedup.accepted_per_candidate", found.size.toDouble / math.max(1L, candidates))
      val missed = truth.crossPlants(i).filterNot(found.contains)
      r.check(missed.isEmpty, s"batch $i probe missed planted near-duplicates ${missed.take(3)}")
      corpusText = corpusText.unionByName(batch)
    }
    r.sample("index.files", dataFiles(new File(idx, "bands"))._1.toDouble)
    val removed = batches.head.select("id")
    tr.span("index.remove", s"round$round")(
      Dedup.removeDocsFromSignatureIndex(spark, idx.getPath, removed, "id"))
    tr.span("index.compact", s"round$round")(Dedup.compactSignatureIndex(spark, idx.getPath))
    val left = spark.read.parquet(new File(idx, "bands").getPath)
      .join(removed.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_semi").count()
    r.check(left == 0, s"compacted index still holds $left band rows of removed docs")
  }

  /** Traced run only: the stages of the batch operators one at a time. */
  private def layers(r: Record, docs: DataFrame): Unit = {
    val tr = r.tracer
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val exact = tr.span("dedup.exact", "layers") {
      Dedup.dropExactDuplicates(docs, "id", "text").select(col("id"), col("text")).localCheckpoint()
    }
    val pairs = tr.span("dedup.jaccard_pairs", "layers") {
      Dedup.jaccardPairs(exact, "id", "text", shingleN, 0.6).localCheckpoint()
    }
    tr.span("components.cluster", "layers")(run(Components.clusterDocuments(exact, "id", pairs)))
    // with a zero budget the length filter leaves almost nothing to
    // verify, so this is the blocking cost alone
    (0 until 2).foreach { _ =>
      tr.span("editdist.blocking", "layers")(run(Dedup.editDistancePairs(docs, "id", "text", shingleN, 0)))
    }
  }
}
