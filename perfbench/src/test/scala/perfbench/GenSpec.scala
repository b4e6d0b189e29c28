package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileKafka

class GenSpec extends AnyFunSuite {

  /** Produce the backlog of `seed` into a fresh broker directory the
    * way the pipeline workload does; returns each partition log's bytes. */
  private def topicLog(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    val msgs = Gen.orderMessages(seed, "drain", 1L, 500)
    msgs.groupBy(_.partition).toSeq.sortBy(_._1).foreach { case (p, ms) =>
      FileKafka.produce(dir.toString, "t", p, ms.map(m => (null: Array[Byte], m.json.getBytes("UTF-8"))))
    }
    val logs = Files.list(dir.resolve("t"))
    try logs.toArray.map(_.asInstanceOf[Path])
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally logs.close()
  }

  private val corpus = {
    val r = Gen.rng(7L, "corpus")
    (0 until 50).map { i =>
      Gen.CorpusDoc(i.toLong,
        Seq.fill(30 + r.nextInt(40))(Gen.vocab(r.nextInt(Gen.vocab.size))).mkString(" "),
        Gen.unitVector(r, 64).toSeq)
    }
  }

  private def batchBytes(seed: Long, b: Int): String =
    Gen.admissionBatch(seed, b, 64, corpus, 8, 400)
      .map(d => s"${d.docId}\t${d.text}\t${d.embedding.mkString(",")}\t${d.expected}").mkString("\n")

  test("same seed gives byte-identical topic logs, another seed different ones") {
    val a = topicLog(11L)
    assert(a.keySet == Set("p0.log", "p1.log", "p2.log"))
    assert(a == topicLog(11L))
    assert(a != topicLog(12L))
  }

  test("same seed gives identical admission batches, another seed or batch different ones") {
    assert(batchBytes(11L, 3) == batchBytes(11L, 3))
    assert(batchBytes(11L, 3) != batchBytes(12L, 3))
    assert(batchBytes(11L, 3) != batchBytes(11L, 4))
  }

  test("admission batches plant the four classes in equal quarters, fresh text outside the corpus") {
    val docs = Gen.admissionBatch(5L, 0, 64, corpus, 8, 400)
    assert(docs.groupBy(_.expected).map { case (k, v) => k -> v.size } ==
      Map("dup_lexical" -> 16, "dup_span" -> 16, "dup_semantic" -> 16, "admit" -> 16))
    val corpusTokens = corpus.flatMap(_.text.split(" ")).toSet
    docs.filter(d => d.expected == "admit" || d.expected == "dup_semantic")
      .foreach(d => assert(d.text.split(" ").forall(t => !corpusTokens.contains(t))))
    docs.filter(_.expected == "dup_span").foreach { d =>
      val window = d.text.split(" ").take(8).mkString(" ")
      assert(corpus.exists(_.text.startsWith(window)))
      assert(d.text.split(" ").length == 408)
    }
  }

  test("orders have about 1.1 lines on average and some arrive with orderLine as one struct") {
    val msgs = Gen.orderMessages(3L, "drain", 1L, 4000).filter(_.rows.nonEmpty)
    val firsts = msgs.groupBy(_.rows.head.purchaseOrderId).values.map(_.head)
    val mean = firsts.map(_.rows.size).sum.toDouble / firsts.size
    assert(mean > 1.05 && mean < 1.2, s"mean lines per order $mean")
    val single = msgs.count(_.json.contains("\"orderLine\": {"))
    assert(single > 0 && msgs.filter(_.json.contains("\"orderLine\": {")).forall(_.rows.size == 1))
    assert(single < msgs.count(_.rows.size == 1))
  }

  test("expected sink rows are last write wins per (purchaseOrderId, sku)") {
    val msgs = Gen.orderMessages(3L, "drain", 1L, 2000)
    val resent = msgs.groupBy(_.rows.headOption.map(_.purchaseOrderId)).collect {
      case (Some(po), ms) if ms.size > 1 => po -> ms.last
    }
    assert(resent.nonEmpty, "the stream re-delivers some orders")
    assert(msgs.count(_.rows.isEmpty) > 0, "the stream carries malformed messages")
    val expected = Gen.expectedRows(msgs)
    resent.values.foreach(_.rows.foreach(r => assert(expected((r.purchaseOrderId, r.sku)) == r)))
    msgs.filter(_.rows.nonEmpty).foreach(m =>
      assert(m.rows.forall(_.purchaseOrderId % Gen.partitions == m.partition)))
  }
}
