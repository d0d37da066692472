package graft

/** Spec scratch: a temp directory that is deleted, with everything in
  * it, when the test JVM exits.
  */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))))

  def create(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(dir.toFile)
    dir
  }
}
