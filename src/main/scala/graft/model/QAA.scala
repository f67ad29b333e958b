package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

import graft.lang._
import graft.lang.Binding.Binding

/** QAA (query-answer-answer) workload ingestion (S9, dataloader.py:109-125):
  * JSON `{lstr: [[binding_dict, easy_answers, hard_answers], ...]}` into the
  * relational form of SURVEY §1.1:
  *
  *   instances(qid, lstr)
  *   bindings(qid, name, id)
  *   answers(qid, var, entity, is_hard)
  *
  * QAA files are query workloads (small); parsing happens driver-side with
  * the Jackson shipped in Spark, then everything becomes DataFrames.
  * Canonicalization: instances are keyed by the parse->lstr round-trip
  * (metric.py:43-45, dataloader.py:125).
  */
object QAA {

  final case class Instance(qid: Long, lstr: String, canonical: String)
  final case class BindingRow(qid: Long, name: String, id: Long)
  final case class AnswerRow(qid: Long, varName: String, entity: Long,
                             is_hard: Boolean)

  final case class Workload(instances: Seq[Instance], bindings: Seq[BindingRow],
                            answers: Seq[AnswerRow]) {
    def bindingOf(qid: Long): Binding =
      bindings.filter(_.qid == qid).map(b => b.name -> b.id).toMap
  }

  def parseJson(json: String): Workload = {
    val root = new ObjectMapper().readTree(json)
    val instances = Seq.newBuilder[Instance]
    val bindingRows = Seq.newBuilder[BindingRow]
    val answerRows = Seq.newBuilder[AnswerRow]
    var qid = 0L
    root.properties().asScala.foreach { entry =>
      val lstr = entry.getKey
      val canonical = Parser.parse(lstr).lstr
      entry.getValue.elements().asScala.foreach { inst =>
        val Seq(binding, easy, hard) = inst.elements().asScala.toSeq
        instances += Instance(qid, lstr, canonical)
        binding.properties().asScala.foreach { b =>
          bindingRows += BindingRow(qid, b.getKey, b.getValue.asLong())
        }
        def answers(node: JsonNode, isHard: Boolean): Unit =
          node.properties().asScala.foreach { v =>
            v.getValue.elements().asScala.foreach { e =>
              answerRows += AnswerRow(qid, v.getKey, e.asLong(), isHard)
            }
          }
        answers(easy, isHard = false)
        answers(hard, isHard = true)
        qid += 1
      }
    }
    Workload(instances.result(), bindingRows.result(), answerRows.result())
  }

  def load(spark: SparkSession, path: String): Workload =
    parseJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))

  /** Compile every instance's DNF conjuncts to batched query graphs
    * (dataloader.py:144-179 pipeline; one (qnodes, qedges) pair batching
    * all instances via qid). Disjunctive formulas contribute one graph per
    * conjunct, matching the reference's one-batch-per-DNF-conjunct
    * convention (dataloader.py:64-102). */
  def toQueryGraphs(spark: SparkSession, w: Workload): (DataFrame, DataFrame) = {
    val instances = w.instances.flatMap { inst =>
      val b = w.bindingOf(inst.qid)
      Normalize.toDnf(Parser.parse(inst.lstr)).map(cq => (cq, b))
    }
    QueryGraph.compile(spark, instances)
  }
}
