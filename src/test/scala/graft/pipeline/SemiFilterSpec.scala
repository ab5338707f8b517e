package graft.pipeline

import scala.collection.mutable
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.data.{SyntheticDocs, SyntheticImages}
import graft.docs.DocOps

/** The confirm-side candidate-id semi-filter ([[Dedup.restrictToCandidateIds]])
  * engaged on every caller. Test corpora sit far below the filter's default
  * 2^20-row floor, so each case lowers `graft.confirm.semiFilterMinRows` for
  * its engaged run, checks that a left-semi join executed, and compares the
  * output with a run whose floor declines the filter. */
class SemiFilterSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** physical plans of the SQL executions started since the last `run` */
  private val plans = mutable.ArrayBuffer.empty[SparkPlanInfo]
  private lazy val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plans.synchronized(plans += s.sparkPlanInfo)
      case _ =>
    }
  }

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(listener)
  }
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(listener)

  lazy val corpus: DataFrame = {
    import spark.implicits._
    spark.createDataset((0L until 400L).flatMap(fid => SyntheticImages.familyLite(fid, 42L, fid * 8)))
      .toDF().cache()
  }

  /** a sparse candidate set over the dup-dense corpus, which would decline
    * the selectivity rule with all its pairs: each even family's base row
    * paired with its first copy */
  lazy val sparseCands: DataFrame = Dedup.candidatesMinhash(Dedup.signatures(corpus))
    .where(col("id_b") === col("id_a") + 1 && pmod(col("id_a"), lit(16L)) === 0)

  /** 440 docs: ten 3-member near-dup clusters (one token of 40 perturbed
    * per member), an exact copy of each cluster's first member (the pairs
    * the simhash channel finds) and 400 random-token singletons */
  lazy val docs: DataFrame = {
    import spark.implicits._
    val spec = SyntheticDocs.Spec(megaTemplates = 0, smallClusters = 10, smallMembers = 3,
      noise = 400)
    val texts = (0L until spec.rows).map(id => (id, SyntheticDocs.text(spec, id)))
    val copies = (0 until 10).map(c => (spec.rows + c, texts(c * 3)._2))
    spark.createDataset(texts ++ copies).toDF("doc_id", "text").cache()
  }

  private val FloorKey = "graft.confirm.semiFilterMinRows"

  /** sorted output rows of `q` and the plans it executed, with the filter's
    * size floor at `floor` rows for the call and restored afterwards */
  private def run(floor: Long)(q: => DataFrame): (Seq[String], Seq[SparkPlanInfo]) = {
    val prev = spark.conf.getOption(FloorKey)
    spark.conf.set(FloorKey, floor)
    try {
      ListenerBusDrain(spark.sparkContext)
      plans.synchronized(plans.clear())
      val rows = q.collect().map(_.toString).sorted.toSeq
      ListenerBusDrain(spark.sparkContext)
      (rows, plans.synchronized(plans.toList))
    } finally prev.fold(spark.conf.unset(FloorKey))(spark.conf.set(FloorKey, _))
  }

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
  private def isSemi(p: SparkPlanInfo): Boolean = p.simpleString.contains("LeftSemi")

  /** runs `q` declined and engaged; asserts a left-semi join ran only when
    * engaged and that both outputs agree. Returns the engaged run's plans. */
  private def engagedMatchesDeclined(q: => DataFrame): Seq[SparkPlanInfo] = {
    val (declined, declinedPlans) = run(Long.MaxValue)(q)
    val (engaged, engagedPlans) = run(1L)(q)
    assert(!declinedPlans.exists(nodes(_).exists(isSemi)), "declined run executed a left-semi join")
    assert(engagedPlans.exists(nodes(_).exists(isSemi)), "engaged run executed no left-semi join")
    assert(declined.nonEmpty)
    assert(engaged === declined)
    engagedPlans
  }

  private def tokenizes(p: SparkPlanInfo): Boolean =
    p.nodeName == "Project" && p.simpleString.contains("token_ngrams")

  /** no plan that runs the semi join tokenizes: the tokenize kernel runs
    * over the restricted side only */
  private def filteredBeforeTokenize(plans: Seq[SparkPlanInfo]): Boolean =
    !plans.filter(nodes(_).exists(isSemi)).exists(nodes(_).exists(tokenizes))

  test("confirm: engaged semi-filter == declined, tokenizing only candidate rows") {
    val plans = engagedMatchesDeclined(Dedup.confirm(sparseCands, corpus))
    assert(filteredBeforeTokenize(plans))
    // the cached corpus is read by the filter only, never by a tokenize
    val tokenizing = plans.flatMap(nodes).filter(tokenizes)
    assert(tokenizing.nonEmpty)
    assert(tokenizing.forall(!nodes(_).exists(_.nodeName == "InMemoryTableScan")))
  }

  test("confirmSubstring: engaged semi-filter == declined") {
    engagedMatchesDeclined(Dedup.confirmSubstring(sparseCands, corpus))
  }

  test("ngramDupPairsExact: engaged semi-filter == declined, tokenizing after the filter") {
    val plans = engagedMatchesDeclined(DocOps.ngramDupPairsExact(docs, 3, 0.6))
    assert(filteredBeforeTokenize(plans))
  }

  test("minhashDupPairs: engaged semi-filter == declined") {
    engagedMatchesDeclined(DocOps.minhashDupPairs(docs, 3, 0.6))
  }

  test("simhashDupPairs: engaged semi-filter == declined") {
    engagedMatchesDeclined(DocOps.simhashDupPairs(docs, 3, 3))
  }
}
