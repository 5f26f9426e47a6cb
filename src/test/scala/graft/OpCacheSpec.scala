package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The shared-relation lifecycle over the whole registered surface:
  * every [[SparkEntry.queries]] entry executed three times — over
  * sf0.001, over sf0.001 again, then over a copy of it in a temp dir —
  * with `spark.sql.codegen.fallback=false`, so a janino compile
  * failure fails the sweep instead of silently running interpreted.
  */
class OpCacheSpec extends GraftSuite {

  private def sweep(dir: String): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      try q(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Exception => fail(s"$name over $dir failed", e) }
    }

  private def cachedPlans: Seq[CachedData] = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
    f.setAccessible(true)
    f.get(cm).asInstanceOf[Seq[CachedData]]
  }

  private def readsUnder(cd: CachedData, dir: String): Boolean =
    cd.plan.exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toUri.getPath.startsWith(dir))
        case _ => false
      }
      case _ => false
    }

  /** Counts "Asked to cache already cached data" log lines. */
  private final class AlreadyCached(n: AtomicLong)
      extends org.apache.logging.log4j.core.appender.AbstractAppender(
        "opcache-spec", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
      if (String.valueOf(e.getMessage.getFormattedMessage)
            .contains("Asked to cache already cached data")) n.incrementAndGet()
  }

  test("registered queries: a repeat sweep keeps every slot, a new corpus evicts the old one") {
    val copy: Path = Files.createTempDirectory("graft_opcache_")
    new java.io.File(sf).listFiles().foreach { t =>
      val dst = copy.resolve(t.getName)
      Files.walk(t.toPath).forEach(p => Files.copy(p, dst.resolve(t.toPath.relativize(p))))
    }
    val warnings = new AtomicLong
    val appender = new AlreadyCached(warnings)
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
    val FallbackKey = "spark.sql.codegen.fallback"
    val priorFallback = spark.conf.getOption(FallbackKey)
    spark.conf.set(FallbackKey, "false")
    try {
      sweep(sf)
      val first = OpCache.slots
      val entries = cachedPlans.size
      assert(first.nonEmpty)

      warnings.set(0)
      sweep(sf)
      val second = OpCache.slots
      val replaced = first.collect { case (k, df) if !second.get(k).exists(_ eq df) => k }
      assert(replaced.isEmpty, s"a repeat sweep replaced the relation of slots $replaced")
      assert(second.keySet == first.keySet)
      assert(warnings.get == 0, s"${warnings.get} re-persists of an already cached plan")

      sweep(copy.toString)
      val stale = cachedPlans.filter(readsUnder(_, sf))
      assert(stale.isEmpty,
        s"${stale.size} cached relations still read $sf:\n${stale.map(_.plan.toString.take(400))}")
      assert(cachedPlans.size <= entries)
    } finally {
      priorFallback.fold(spark.conf.unset(FallbackKey))(spark.conf.set(FallbackKey, _))
      ctx.getConfiguration.getRootLogger.removeAppender("opcache-spec")
      ctx.updateLoggers()
      Files.walk(copy).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    }
  }
}
