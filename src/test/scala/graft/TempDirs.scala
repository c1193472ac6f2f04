package graft

import java.nio.file.{Files, Path}

import graft.state.StateFiles

/** Temporary directories for specs: all under one parent per JVM,
  * which is deleted when the JVM exits, so a test run leaves nothing
  * behind in the temporary directory. A spec that makes many large
  * ones may delete each as soon as it is done with it.
  */
object TempDirs {

  private lazy val parent: Path = {
    val p = Files.createTempDirectory("graft-tests-")
    sys.addShutdownHook(StateFiles.delete(p))
    p
  }

  /** A new empty directory whose name starts with `prefix`. */
  def make(prefix: String): Path = Files.createTempDirectory(parent, prefix)
}
