package graft

import java.io.File
import java.net.URLClassLoader

import org.scalatest.funsuite.AnyFunSuite

/** Whichever query object a JVM initializes first, the registry must come
  * out whole. Each case loads one object first in a fresh class loader, so
  * every object's static initializer runs from scratch in that order; a
  * cycle between an object and the aggregate shows up as an
  * `ExceptionInInitializerError` or a short registry.
  */
class RegistryInitSpec extends AnyFunSuite {

  private val objects = Seq("Queries", "ExtQueries") ++ (7 to 17).map(r => s"Round${r}Queries")

  private val classPath = sys.props("java.class.path").split(File.pathSeparator)
    .map(p => new File(p).toURI.toURL)

  objects.foreach { obj =>
    test(s"$obj initialized first still yields all 244 queries") {
      val loader = new URLClassLoader(classPath, ClassLoader.getPlatformClassLoader)
      try {
        val queries =
          try {
            Class.forName(s"graft.queries.$obj$$", true, loader)
            val entry = Class.forName("graft.SparkEntry$", true, loader)
            entry.getMethod("queries").invoke(entry.getField("MODULE$").get(null))
          } catch {
            // a LinkageError would abort the whole suite; fail this case only
            case e: ExceptionInInitializerError => fail(s"static init failed after $obj", e)
          }
        // the map's class lives in `loader`, so read its size reflectively
        assert(queries.getClass.getMethod("size").invoke(queries) == 244)
      } finally loader.close()
    }
  }
}
