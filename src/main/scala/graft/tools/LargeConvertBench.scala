package graft.tools

/** Kept under this name because perfbench, which compiles `src/main`, reads it. */
object LargeConvertBench {
  def peakRssBytes(): Long = Scale.peakRssBytes()
}
