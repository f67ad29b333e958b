package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite

/** Value pins for the 19 KGE training and eval rows. Each row runs
  * through [[SparkEntry.queries]] on the sf0.001 testdata, and the
  * SHA-256 of its sorted, rendered rows (column names first) is compared
  * with the pinned digest. The DuckDB oracle checks these rows only in
  * the `graft.Verify` sweep; this is the fast in-suite check that a
  * refactor of `score/Training` moves no value. */
class TrainingGoldenSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import CodecGoldenSpec.{render, sha}

  private val dir = "/root/testdata/sf0.001"

  test("the 19 train_* / train_eval_* rows match the pinned digests") {
    // The rows run four at a time: each is a chain of small jobs, so the
    // session's cores are mostly idle while one row plans its next job.
    graft.model.KG.edges(spark, dir) // derived once, before the rows race
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val got = try Await.result(Future.traverse(
      TrainingGoldenSpec.Digests.keys.toSeq.sorted) { name =>
      Future {
        val df = SparkEntry.queries(name)(spark, dir)
        val rows = df.collect().map(r => r.toSeq.map(render).mkString("|")).sorted
        name -> sha((df.columns.mkString("|") +: rows).mkString("\n"))
      }
    }, Duration.Inf) finally pool.shutdown()
    val diff = got.filter { case (k, d) => TrainingGoldenSpec.Digests(k) != d }
    assert(diff.isEmpty,
      diff.map { case (k, d) => s"""\n    "$k" -> "$d",""" }.mkString)
  }
}

object TrainingGoldenSpec {
  val Digests: Map[String, String] = Map(
    "train_complex_2steps" ->
      "5b7cbaf849f32843ff0eee8b844f3469f935e7b14a6f18ff6f845785bdd61f1b",
    "train_complex_step" ->
      "d53fbcc035230851dcbc8ac1c2aa9eefe658b16cd5e9f3791fa6f7d5fa409fc3",
    "train_distmult_2steps" ->
      "59d74dd1515acc7e907074ad59c0402ba8d96fb9d767ec02470ea698f478545d",
    "train_distmult_step" ->
      "440943b8f9517fc305963c4dd740f56d8113d93f0f8e61deca1f5aa95e34f5f0",
    "train_eval_mrr" ->
      "d4c77206867ae9c5453cf86c39b744b99fa5fae7b1ad9e12ee5b0d7e8906ea31",
    "train_eval_mrr_complex" ->
      "bb3cf611bbe416e449fba44c80e73a2c56e448ea311f4f2c60c15329c887620a",
    "train_eval_mrr_distmult" ->
      "5038231eb84426216f49431323eb53e60463ce6c9aea4cb59987d8d1f0c68d90",
    "train_eval_mrr_filtered" ->
      "d68eb03016c1126f4f2e8fa3094235097641a03b42b624c4931d5be0d4fed3a7",
    "train_eval_mrr_rotate" ->
      "5f1452c7fea7f9042ba0f5754faac6321497ab83f7e94e18df01357334c7acdd",
    "train_eval_mrr_sampled" ->
      "1bb59e791cfec9d4451c48bebf3649eaf7405a8cf37c03bed94c8ea4bc0b3ce4",
    "train_rotate_2steps" ->
      "30b72ac6b24e2d814e7143ac1a3b5f0d7a8ab976977352548f5756257c2a2d10",
    "train_rotate_step" ->
      "716ea6e142f8eedecd304c4aab26830b8484bc8063b7b790db6412f76119902b",
    "train_transe_2steps" ->
      "7eb8ba181a2dd194841982b585f8c9fed919d351f0d40d5e4b6fe6c5d26220e0",
    "train_transe_adagrad" ->
      "76aab676556876b3f433c9c66f826fae4a24fa9c623eb43b573f99e7e7a63e49",
    "train_transe_adam" ->
      "699db2fda482ab624e5c5aef43bb08a0aaae09a264b95dfd7583ea6667e249a8",
    "train_transe_epoch" ->
      "57a881cc6a64865f36c949bfbf8369da1a963bbf7b4975393b48fb4068856d0d",
    "train_transe_hashneg" ->
      "c7def4075999c98072ff562d231f624caa7924a75319836eb3740ff51c44f512",
    "train_transe_momentum" ->
      "46c872e1cfc78e43714112ea77cbf67a48aebc9072bf498e2e53370209428abd",
    "train_transe_step" ->
      "3f549faebc57fba753249d484fa177d3ab5d5436ad5c4eb74643afe51316ef53",
  )
}
