package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite

/** Value pins for the 19 KGE training and eval rows and the 25 scored
  * executor rows (`cqd_*`, `lmpnn_*`, `eval_cqd_mrr`). Each row runs
  * through [[SparkEntry.queries]] on the sf0.001 testdata, and the
  * SHA-256 of its sorted, rendered rows (column names first) is compared
  * with the pinned digest. The DuckDB oracle checks these rows only in
  * the `graft.Verify` sweep; this is the fast in-suite check that a
  * refactor of `score/Training`, of the scorers or of the rows' own
  * bodies moves no value. */
class TrainingGoldenSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import CodecGoldenSpec.{render, sha}

  private val dir = "/root/testdata/sf0.001"

  /** The rows of `pinned` whose digest differs, rendered as map entries
    * carrying the digest they produced. The rows run four at a time: each
    * is a chain of small jobs, so the session's cores are mostly idle
    * while one row plans its next job. */
  private def moved(pinned: Map[String, String]): String = {
    graft.model.KG.edges(spark, dir) // derived once, before the rows race
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val got = try Await.result(Future.traverse(pinned.keys.toSeq.sorted) { name =>
      Future {
        val df = SparkEntry.queries(name)(spark, dir)
        val rows = df.collect().map(r => r.toSeq.map(render).mkString("|")).sorted
        name -> sha((df.columns.mkString("|") +: rows).mkString("\n"))
      }
    }, Duration.Inf) finally pool.shutdown()
    got.filter { case (k, d) => pinned(k) != d }
      .map { case (k, d) => s"""\n    "$k" -> "$d",""" }.mkString
  }

  test("the 19 train_* / train_eval_* rows match the pinned digests") {
    val diff = moved(TrainingGoldenSpec.Digests)
    assert(diff.isEmpty, diff)
  }

  test("the 25 cqd_* / lmpnn_* / eval_cqd_mrr rows match the pinned digests") {
    val diff = moved(TrainingGoldenSpec.ScoredDigests)
    assert(diff.isEmpty, diff)
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

  /** The scored executor rows: 20 `cqd_*`, 4 `lmpnn_*` and `eval_cqd_mrr`. */
  val ScoredDigests: Map[String, String] = Map(
    "cqd_1p_complex" ->
      "a33003031c9321fbf1a88c1d16aed1f5ee13614f50347226037c71c2bd467f8e",
    "cqd_1p_conve" ->
      "49742ad3e59bf3d42f2f2e2b35233fafd733303366485eaf99a6a73be74d4757",
    "cqd_1p_distmult" ->
      "e717cb087e873d850d7d69d0fb178d584113631f8c1025c17b73e9ba1d70c970",
    "cqd_1p_rescal" ->
      "121e88f2b6a60c0688469cb5129494e1034f3b3be5d9d070693deb7f9a9d99bb",
    "cqd_1p_rotate" ->
      "2975ad240cb9879a0e7d59a62f9f5e3b47cfe316e07178c5c658a3b5b04016ea",
    "cqd_1p_swtranse" ->
      "1cf3d2455f3d00cce0940cce2beb2267b878957c76bd8ee8e17d64d1c9dc18ee",
    "cqd_1p_transe" ->
      "878d64026bcfc2ca7fddeb405803ba34db79764b6393548cba3c99102bd8f126",
    "cqd_2i_godel" ->
      "c613088eb576a32cc9d4bb57bc7dea6c20b40332181707a75d842f540be00e38",
    "cqd_2in_transe" ->
      "aa87a3d2d93cd027ee001482266f7f51e5e75c626914c5edb56460925e28d1a5",
    "cqd_2p_complex" ->
      "28e3aabf030114088d35632ccb0498df7a98cb61f841b92cf00ebf418d29f7df",
    "cqd_2p_conve" ->
      "d17c06477a32d3c938301ee2973b601a362a7b998cf6d555478eb781f997ed0c",
    "cqd_2p_distmult" ->
      "f06e6780356613c3e252d0310ea87c0c278e36355b75b6830386e9f31f97377a",
    "cqd_2p_rescal" ->
      "58e4d18eeb0b9b6bb491439fab34bd886185f1a54d17cc65047de10fef3a6f17",
    "cqd_2p_rotate" ->
      "67305f4c047917a15e3f35fdfe75dc95b108d606e1f6acfd06789e9df8238ef7",
    "cqd_2p_swtranse" ->
      "a1735e7b361fae2d97f3bf9ce6b75c17bb8b7c8eec314a061c2a8b3fb008fa7b",
    "cqd_2p_transe" ->
      "05d57cc48c2a4821f98653b90507ac1a96046170c6ba29b12da0096217c59023",
    "cqd_2u_transe" ->
      "878d64026bcfc2ca7fddeb405803ba34db79764b6393548cba3c99102bd8f126",
    "cqd_3c_beam" ->
      "7779bf1df4494cc1c52be740aace91b7402a5f765936692154fee9918056cafe",
    "cqd_3p_transe" ->
      "9cef9641ebbf04fe202168661521b10f357f4d0e60ca5fde046918fa5b2e88cb",
    "cqd_batch_2p" ->
      "d6ad47763dba3f38d065782c07a58fe16582412a2f1dbf1ba1b4b663d9569443",
    "eval_cqd_mrr" ->
      "53812afbe5c53cee3b3ea16640ca4e22525abf833bfd3d78a7eb486ba2d4037b",
    "lmpnn_1p_bias" ->
      "7e59971bd02ff544692509fa6d2565e57407236888633cfb827e454297c5168c",
    "lmpnn_1p_mlp" ->
      "40f672f85280a9b4b7e5a2f1b6b550b751b3c1c9de51ead4b60e45918716876a",
    "lmpnn_2in" ->
      "ad50d144e854d02039e4c617e38863621e6021e6bf99ee8872f658999a3ae098",
    "lmpnn_2p" ->
      "655323542c156d3d833a1778587c0a06fbb3d5f76f73e0bf73e794c64968cbad",
  )
}
