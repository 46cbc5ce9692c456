package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.cachedPlans
import org.apache.spark.storage.StorageLevel

import CacheHandles.{keep, scoped, seal}

/** The cache lifecycle: a scope releases what was kept inside it on
  * return and on a throw, a sealed output outlives its block and is
  * released by the enclosing scope, registry queries leave nothing
  * cached behind their scope, and nothing outside the cache module
  * persists a frame. */
class CacheSpec extends SparkSpec {
  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("a frame kept inside scoped is released on return and on a throw") {
    val a = spark.range(0, 31).toDF("id")
    val n = scoped {
      val k = keep(a)
      assert(cached(k))
      k.count()
    }
    assert(n === 31L)
    assert(!cached(a))

    val b = spark.range(0, 37).toDF("id")
    intercept[IllegalStateException] {
      scoped {
        keep(b).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(!cached(b))
  }

  test("a sealed result outlives its block and is released by the enclosing scope") {
    val input = spark.range(0, 41).toDF("id")
    val out = scoped {
      val sealedOut = seal(keep(input).filter(col("id") > 3L))
      assert(cached(sealedOut), "the sealed output is materialized and cached")
      assert(!cached(input), "the body's kept frame is released when the seal ends")
      assert(sealedOut.count() === 37L)
      sealedOut
    }
    // returned from the outer scope too, so it passes further out: no
    // scope is open here, so it is ownerless until released by hand
    assert(cached(out))
    out.unpersist()

    val inner = scoped {
      val s = seal(spark.range(0, 43).toDF("id"))
      assert(cached(s))
      s
    }
    scoped(assert(cached(inner)))
    val dropped = spark.range(0, 47).toDF("id")
    scoped {
      seal(dropped)
      assert(cached(dropped))
    }
    assert(!cached(dropped), "the enclosing scope releases the sealed output")
    inner.unpersist()
  }

  test("registry queries leave no cached plan behind their scope (sf0.001)") {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    spark.catalog.clearCache()
    for (name <- Seq("q_hll_intersect", "q_itemsets", "q_dedup_minhash")) {
      val rows = scoped(byName(name).fn(spark, sf001).collect().length)
      assert(rows > 0, s"$name returned no rows")
      assert(cachedPlans(spark) === 0, s"$name left a cached plan behind its scope")
    }
  }

  test("nothing outside the cache module persists a frame") {
    // target/scala-2.13/test-classes → the project root
    val root = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      .getParent.getParent.getParent
    val src = root.resolve("src/main/scala")
    assert(Files.isDirectory(src), s"no source tree at $src")
    val files = Files.walk(src).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "CacheHandles.scala")
      .toSeq
    assert(files.size > 40)
    val offenders = files.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(".persist(") || line.contains(".cache()") =>
          s"${root.relativize(p)}:${i + 1}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("persist outside the cache module: ", ", ", ""))
  }
}
