package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession fixture for all specs (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // local[8]: the JVM-wide SparkContext is created by whichever suite runs
  // first and its core count caps EVERY suite (sessions built later reuse
  // it whatever master they ask for) — 8 keeps the registry smoke spec and
  // the data-heavier specs parallel without oversubscribing the test box
  lazy val session: SparkSession = build("local[8]", "8", "graft-test")

  /** A session on the production configuration, `GraftSession.builder`,
    * so specs exercise the planner the way gates see it. Every session
    * that can be the first in the test JVM is built here: the first one
    * creates the SparkContext, and with it fixes the codegen cache size,
    * artifact isolation and the `spark.sql.extensions` conf. Because that
    * context carries the extensions conf, every later session gets the
    * GraftExtensions from it; adding `withExtensions` as well would inject
    * every rule twice (an audited read would log twice).
    */
  def build(master: String, partitions: String, app: String): SparkSession = {
    val s = GraftSession.getOrCreate(GraftSession.builder(master, partitions).appName(app))
    require(s.catalog.functionExists("graft_dot"),
      "the SparkContext was created without GraftSession's extensions conf")
    s
  }

  /** The Spark jobs `f` starts on `spark`'s context, counted once the
    * listener bus has delivered every event.
    */
  def jobsDuring(spark: SparkSession)(f: => Unit): Long = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusSync.drain(sc)
    val counter = new GraftSession.JobCounter
    sc.addSparkListener(counter)
    try { f; org.apache.spark.graft.ListenerBusSync.drain(sc); counter.jobs }
    finally sc.removeSparkListener(counter)
  }

  /** Runs `f` in a fresh production-configured session on the JVM's
    * context, then restores the suite-shared default session (or clears
    * it if there was none). Never stops the shared context.
    */
  def withSession[A](master: String, partitions: String, app: String)(
      f: SparkSession => A): A = {
    // getOrCreate would hand back the default session; clear it so a
    // fresh session with this spec's settings is built
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(build(master, partitions, app))
    finally prior match {
      case Some(p) =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      case None =>
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
    }
  }
}
