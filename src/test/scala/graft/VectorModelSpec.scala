package graft

import org.apache.spark.sql.functions._

import graft.llm.{Pq, Similarity}
import graft.tools.Measure

/** The IVF vector model ([[graft.llm.Similarity]]'s centroid set): k-means
  * centroids and multi-probe routing pinned bit for bit, and the k-means
  * build's plan and job shape.
  */
class VectorModelSpec extends SparkTestBase {
  import spark.implicits._

  // Ids 0 and 1 are collinear (cosine 1.0 to both seeds: an exact tie
  // that goes to the smaller id, so cluster 1 is empty after iteration 1
  // and keeps its seed); id 3 ties all three seeds at 1/sqrt(2).
  private def kmVecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(2.0f, 0.0f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(1.0f, 1.0f, 0.0f)),
    (4L, Seq(0.3f, 0.9f, 0.1f)),
    (5L, Seq(0.8f, 0.2f, 0.4f)),
    (6L, Seq(0.1f, 0.2f, 0.9f))).toDF("vec_id", "embedding")

  private def centroidBits(k: Int, iters: Int): Seq[(Long, Seq[Long])] =
    Similarity.kmeansCentroids(kmVecs, "vec_id", "embedding", k, iters)
      .collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits).toSeq)
      .sortBy(_._1)

  test("kmeansCentroids: centroids pinned bit for bit through a tie, an empty cluster and k > n") {
    assert(centroidBits(3, 0) === Seq(
      0L -> Seq(4607182418800017408L, 0L, 0L),
      1L -> Seq(4611686018427387904L, 0L, 0L),
      2L -> Seq(0L, 4607182418800017408L, 0L)))
    assert(centroidBits(3, 1) === Seq(
      0L -> Seq(4608083138738913281L, 4599075939484172278L, 4591870180174331823L),
      1L -> Seq(4611686018427387904L, 0L, 0L),
      2L -> Seq(4593971860054125286L, 4604480258960960157L, 4599676419286848864L)))
    assert(centroidBits(3, 2) === Seq(
      0L -> Seq(4606281698928230405L, 4603579539111542774L, 4596373779801702319L),
      1L -> Seq(4609434218613702656L, 0L, 0L),
      2L -> Seq(4593971860054125286L, 4604480258960960157L, 4599676419286848864L)))
    // k > n: one centroid per vector, so n of them, not k.
    assert(centroidBits(9, 2) === Seq(
      0L -> Seq(4609434218613702656L, 0L, 0L),
      1L -> Seq(4611686018427387904L, 0L, 0L),
      2L -> Seq(0L, 4607182418800017408L, 0L),
      3L -> Seq(4607182418800017408L, 4607182418800017408L, 0L),
      4L -> Seq(4599075939685498899L, 4606281698659794925L, 4591870180174332184L),
      5L -> Seq(4605380979056443401L, 4596373779801702319L, 4600877379429072815L),
      6L -> Seq(4591870180174332184L, 4596373779801702319L, 4606281698659794925L)))
    // cluster_id takes the id column's type.
    val intIds = Similarity.kmeansCentroids(
      kmVecs.withColumn("vec_id", col("vec_id").cast("int")), "vec_id", "embedding", 3, 1)
    assert(intIds.schema.simpleString === "struct<cluster_id:int,centroid:array<double>>")
  }

  test("ivfAssignMulti: probe order pinned for nprobe 1..k+1 through ties and NaN") {
    // Vector 10 ties centroids 1, 2 and 3; the zero vector 12 scores NaN
    // against every centroid, and every vector scores NaN against the
    // zero centroid 4. NaN sorts greatest; ties go to the smaller id.
    val vecs = Seq(
      (10L, Seq(1.0f, 1.0f)), (11L, Seq(0.6f, 0.8f)), (12L, Seq(0.0f, 0.0f)),
      (13L, Seq(-1.0f, 0.5f)), (14L, Seq(0.9f, -0.2f))).toDF("vec_id", "embedding")
    val cents = Seq(
      (3L, Seq(0.0f, 1.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 2.0f)),
      (0L, Seq(-1.0f, -1.0f)), (4L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val order = Map(
      10L -> Seq(4L, 1L, 2L, 3L, 0L),
      11L -> Seq(4L, 2L, 3L, 1L, 0L),
      12L -> Seq(0L, 1L, 2L, 3L, 4L),
      13L -> Seq(4L, 2L, 3L, 0L, 1L),
      14L -> Seq(4L, 1L, 2L, 3L, 0L))
    for (nprobe <- 1 to 6) {
      val out = Similarity.ivfAssignMulti(vecs, cents, "vec_id", "embedding", nprobe)
      assert(out.schema.simpleString === "struct<vec_id:bigint,cluster_id:bigint,probe_rank:int>")
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      val want = order.toSeq.flatMap { case (id, cs) =>
        cs.take(nprobe).zipWithIndex.map { case (c, i) => (id, c, i + 1) }
      }.sorted
      assert(rows === want, s"nprobe=$nprobe")
    }
  }

  test("vector-model plans: kmeansCentroids is local with codebooksLocal's jobs per iteration, and no centroid frame is joined") {
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    val cents = Similarity.kmeansCentroids(kmVecs, "vec_id", "embedding", 3, 2)
    assert(cents.isLocal, cents.queryExecution.logical)
    assert(!plan(cents).contains("Join"), plan(cents))
    val multi = plan(Similarity.ivfAssignMulti(kmVecs, kmVecs.filter(col("vec_id") < 3),
      "vec_id", "embedding", 2))
    assert(!multi.contains("Join") && !multi.contains("Window"), multi)
    // The residual path's one join is codes ⋈ per-(query, cluster) LUTs.
    val pqVecs = kmVecs.select(col("vec_id"),
      concat(col("embedding"), array(lit(0.5f))).as("embedding"))
    val resid = plan(Pq.ivfPqResidualTopK(pqVecs, pqVecs.filter(col("vec_id") >= 4),
      pqVecs.filter(col("vec_id") < 2), "vec_id", "embedding", 2, 2, 2, 1, 2, nprobe = 2))
    assert("""\w*Join\b""".r.findAllIn(resid).size === 1, resid)
    def jobs(body: => Unit): Int = Measure.counted(spark)(body)._2.jobs
    val kmeans = (1 to 2).map(it =>
      jobs(Similarity.kmeansCentroids(kmVecs, "vec_id", "embedding", 3, it).collect()))
    val pq = (1 to 2).map(it =>
      jobs(Pq.codebooksLocal(pqVecs, "vec_id", "embedding", 2, 2, 3, it)))
    assert(kmeans(1) - kmeans(0) === pq(1) - pq(0), s"kmeans $kmeans vs codebooksLocal $pq")
  }
}
