package graft.tools

/** Kept under this name because perfbench, which compiles `src/main`, reads it. */
object LargeQueryBench {
  val HotScript: Array[Byte] = Scale.HotScript
}
