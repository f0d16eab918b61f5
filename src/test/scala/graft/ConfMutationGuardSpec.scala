package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library code never writes session conf: the only `conf.set(` calls in
  * `src/main/scala` live in [[GraftSession]] (session build, derived
  * sizing sessions, reliable-checkpoint opt-in) and in the `graft/tools`
  * programs. A measured width is carried by a frame's session
  * ([[graft.operators.Checkpoints.sized]]), not by flipping a live
  * session's conf. */
class ConfMutationGuardSpec extends AnyFunSuite {

  test("conf.set( appears in src/main only in GraftSession.scala and graft/tools/") {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, s"run from the project root: ${main.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    def lines(f: java.io.File): List[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }
    val offenders = for {
      f <- files(main)
      rel = main.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if rel != "graft/GraftSession.scala" && !rel.startsWith("graft/tools/")
      (line, i) <- lines(f).zipWithIndex
      if line.contains("conf.set(")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
