package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every `runMain <class>` the repository documents — in README.md,
  * the shell and Python files of scripts/, and every SKILL.md under
  * .claude/skills — names an object that loads and has a `main`, so
  * deleting a tool cannot leave a dangling command behind.
  */
class ToolEntryPointsSpec extends AnyFunSuite {

  private val root: Path = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
    .takeWhile(_ != null).find(d => Files.exists(d.resolve("build.sbt")))
    .getOrElse(sys.error("no build.sbt above the working directory"))

  private def files(dir: String, matches: Path => Boolean): Seq[Path] = {
    val d = root.resolve(dir)
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.walk(d)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) && matches(p)).toList
      finally s.close()
    }
  }

  test("every documented runMain names a loadable object with a main") {
    val docs = Seq(root.resolve("README.md")) ++
      files("scripts", p => p.getParent == root.resolve("scripts") &&
        (p.toString.endsWith(".sh") || p.toString.endsWith(".py"))) ++
      files(".claude/skills", _.getFileName.toString == "SKILL.md")
    val RunMain = """runMain\s+([A-Za-z_][\w.]*)""".r
    val named = docs.flatMap { p =>
      RunMain.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> root.relativize(p))
    }
    assert(named.map(_._1).contains("graft.Bench"), s"scan found too little: $named")
    val broken = named.filterNot { case (cls, _) =>
      try {
        val m = Class.forName(cls, false, getClass.getClassLoader)
          .getMethod("main", classOf[Array[String]])
        java.lang.reflect.Modifier.isStatic(m.getModifiers)
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }
    }
    assert(broken.isEmpty, s"runMain targets without a main: ${broken.distinct}")
  }
}
