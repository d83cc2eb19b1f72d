package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each graft rule and the spatial-join strategy are installed exactly
  * once per session, whichever way the session was built, and a repeat
  * `install` changes nothing. */
class InstallSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  /** Stops whatever session the previous suite left running (the
    * extension conf is static, so a live context would be reused without
    * it), then builds a fresh one, as PlanAuditSpec's afterAll leaves it. */
  private def freshSession(withExtension: Boolean): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val b = SparkSession.builder().master("local[2]").appName("install")
      .config("spark.ui.enabled", "false")
    spark = (if (withExtension)
      b.config("spark.sql.extensions", classOf[GraftSparkSessionExtensions].getName)
    else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)
    spark
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def classes(rules: Seq[AnyRef]): Seq[Class[_]] = rules.map(_.getClass)
  private def operatorClasses(s: SparkSession) =
    classes(GraftExtensions.operatorRules.map(_(s)))
  private def postHocClasses(s: SparkSession) =
    classes(GraftExtensions.postHocRules.map(_(s)))
  private def strategies(s: SparkSession) =
    s.sessionState.planner.strategies.filter(_.isInstanceOf[graft.joins.SpatialJoinStrategy])
  /** Rules injected into the operator-optimization batches. */
  private def injected(s: SparkSession) =
    classes(s.sessionState.optimizer.extendedOperatorOptimizationRules)

  test("extension session: operator rules injected, post-hoc rules in experimental, no rule twice") {
    val s = freshSession(withExtension = true)
    assert(strategies(s).size == 1)
    assert(s.experimental.extraStrategies.isEmpty)
    assert(operatorClasses(s).forall(injected(s).contains))
    assert(classes(s.experimental.extraOptimizations) == postHocClasses(s))
    assert(injected(s).intersect(classes(s.experimental.extraOptimizations)).isEmpty)
  }

  test("stock session: all 11 rules and the strategy in experimental") {
    val s = freshSession(withExtension = false)
    assert(strategies(s).size == 1)
    val all = operatorClasses(s) ++ postHocClasses(s)
    assert(all.size == 11)
    assert(classes(s.experimental.extraOptimizations) == all)
    assert(injected(s).intersect(all).isEmpty)
  }

  for (withExtension <- Seq(true, false)) {
    test(s"a second install changes nothing and logs no WARN (extension=$withExtension)") {
      val s = freshSession(withExtension)
      val reg = s.sessionState.functionRegistry
      val functions = reg.listFunction().toSet
      val builder = reg.lookupFunctionBuilder(FunctionIdentifier("st_point")).get
      val rules = s.experimental.extraOptimizations
      val strats = s.experimental.extraStrategies
      val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val appender = new AbstractAppender("install-spec", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = {
          val m = e.getMessage.getFormattedMessage
          if (m.contains("replaced a previously registered function")) replaced.add(m)
        }
      }
      appender.start()
      val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
      root.addAppender(appender)
      s.sparkContext.setLogLevel("WARN")
      try {
        // the capture sees a real re-registration
        reg.createOrReplaceTempFunction("st_point", builder, "built-in")
        assert(replaced.size == 1)
        replaced.clear()
        GraftExtensions.install(s)
        assert(replaced.isEmpty, replaced)
      } finally {
        s.sparkContext.setLogLevel("ERROR")
        root.removeAppender(appender)
        appender.stop()
      }
      assert(reg.listFunction().toSet == functions)
      assert(s.experimental.extraOptimizations.corresponds(rules)(_ eq _))
      assert(s.experimental.extraStrategies.corresponds(strats)(_ eq _))
      assert(strategies(s).size == 1)
    }
  }
}
