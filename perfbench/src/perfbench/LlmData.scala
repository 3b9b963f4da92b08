package perfbench

/** The LLM-data side in one run, on one generated input set: streaming
  * ingest of an events feed ([[StreamIngest]]), one cold pass of the batch
  * corpus job ([[CorpusDedup]]), then one cold IVF-PQ index build and warm
  * query batches ([[VectorSearch]]).
  *
  *   op_cpu_ms    JVM CPU ms per corpus phase (seven, each cold)
  *   op2_cpu_ms   JVM CPU ms per stream drain step (files landed at
  *                once, processed to the end)
  *   run_cpu_s    JVM CPU of every timed operation: the vector part, the
  *                corpus pass, the stream's start and drain steps
  *
  * JVM CPU counts every thread (driver, Spark tasks, GC, JIT), at the
  * operating system's 10 ms tick, so per-op figures are totals over many
  * ops divided by their count. */
final class LlmData(ctx: Ctx) extends Workload {
  private val stream = new StreamIngest(ctx)
  private val corpus = new CorpusDedup(ctx)
  private val vectors = new VectorSearch(ctx)

  def setup(): Unit = { corpus.setup(); vectors.setup(); stream.setup() }

  // The vector part, whose figures are not bounded end to end, runs first
  // and takes the rest of the JVM's warm-up. Whichever part ran first was
  // the noisiest: the stream's batches still sped up by about a tenth over
  // its open loop, and the corpus pass's MinHash phase took 3 to 6.5 s.
  def run(): Unit = {
    vectors.run()
    val phaseCpuMs = corpus.run()
    stream.run()
    ctx.e2e("op_cpu_ms", phaseCpuMs.sum / phaseCpuMs.size)
    ctx.e2e("op2_cpu_ms", stream.stepCpuMs.sum / stream.stepCpuMs.size)
  }

  def layers(): Unit = { stream.layers(); corpus.layers(); vectors.layers() }
}
