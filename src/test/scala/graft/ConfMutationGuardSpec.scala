package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library code never writes session state: the only `conf.set(` calls in
  * `src/main/scala` live in [[GraftSession]] (session build, derived
  * sizing sessions, reliable-checkpoint opt-in) and in the `graft/tools`
  * programs. A measured width is carried by a frame's session
  * ([[graft.operators.Checkpoints.sized]]), not by flipping a live
  * session's conf. Functions and planner strategies install once, at
  * session build, through [[graft.plans.GraftExtensions]] — nothing else
  * writes a session's function registry or strategy list — and no
  * session-conf switch selects between code paths. Serving pins follow the
  * same rule: one constructor site, [[graft.streaming.TieredRoll]]. The
  * stored-index format has one home too: only
  * [[graft.operators.IndexStore]] names its commit marker. And every
  * program builds its session through [[GraftSession.local]]: only
  * [[GraftSession]] calls `SparkSession.builder`. */
class ConfMutationGuardSpec extends AnyFunSuite {

  private val main = new java.io.File("src/main/scala")

  /** `rel:line: text` for every line of a `src/main/scala` file that
    * contains one of `needles`, in files `include` accepts. */
  private def offenders(needles: Seq[String])(include: String => Boolean): Seq[String] = {
    assert(main.isDirectory, s"run from the project root: ${main.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    def lines(f: java.io.File): List[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }
    for {
      f <- files(main)
      rel = main.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if include(rel)
      (line, i) <- lines(f).zipWithIndex
      if needles.exists(line.contains)
    } yield s"$rel:${i + 1}: ${line.trim}"
  }

  test("conf.set( appears in src/main only in GraftSession.scala and graft/tools/") {
    val found = offenders(Seq("conf.set("))(rel =>
      rel != "graft/GraftSession.scala" && !rel.startsWith("graft/tools/"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("functions and strategies register only in graft/plans/GraftExtensions.scala") {
    val found = offenders(Seq("registerFunction(", "functionRegistry.register",
      "extraStrategies ="))(_ != "graft/plans/GraftExtensions.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("an EpochPin is built in src/main only by TieredRoll.pin") {
    val found = offenders(Seq("new EpochPin"))(_ != "graft/streaming/TieredRoll.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the stored-index marker _graft_index.json is named in src/main only in IndexStore.scala") {
    val found = offenders(Seq("_graft_index.json"))(_ != "graft/operators/IndexStore.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("SparkSession.builder appears in src/main only in GraftSession.scala") {
    val found = offenders(Seq("SparkSession.builder"))(_ != "graft/GraftSession.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no session-conf switch selects a trainer or the set_jaccard rewrite") {
    val found = offenders(Seq("spark.graft.train.localMaxSample",
      "spark.graft.fuseSetJaccard"))(_ => true)
    assert(found.isEmpty, found.mkString("\n"))
  }
}
