package graft.functions

/** Runtime dispatcher for the MinHash signature kernel.
  *
  * [[HashKernels.minhash]] stays the canonical scalar definition (and the
  * spec-pinned parity twin); [[MinHashVector]] is the SIMD restructuring of
  * the same computation (JDK Vector API — needs the `jdk.incubator.vector`
  * module, which build.sbt adds to the forked JVMs when the build JVM has
  * it). Loading is reflective so that a JVM without the module — or a build
  * that skipped the file — degrades to the scalar kernel instead of failing
  * class resolution, and the loaded kernel is probed for value parity
  * against the scalar twin before it is trusted: the signature values feed
  * LSH banding, so a divergent kernel would silently change which
  * near-duplicates the operator finds.
  */
object MinHash {
  private val vectorKernel: MinHashKernel =
    try {
      val kern = Class.forName("graft.functions.MinHashVector")
        .getDeclaredConstructor().newInstance().asInstanceOf[MinHashKernel]
      // Load-time value-parity probe: deterministic pseudo-random inputs
      // covering empty, sub-k, one-gram, chunk-interior lengths, and an
      // n that is not a lane multiple.
      val rnd = new java.util.Random(42L)
      val lens = Seq(0, 5, 9, 40, 313, 5000)
      val ok = lens.forall { len =>
        val b = new Array[Byte](len); rnd.nextBytes(b)
        java.util.Arrays.equals(kern.minhash(b, 9, 32), HashKernels.minhash(b, 9, 32)) &&
          java.util.Arrays.equals(kern.minhash(b, 3, 5), HashKernels.minhash(b, 3, 5)) &&
          java.util.Arrays.equals(kern.minhash(b, 1, 8), HashKernels.minhash(b, 1, 8))
      }
      if (ok) kern else null
    } catch { case _: Throwable => null }

  /** True when the SIMD kernel loaded and passed the load-time parity probe. */
  def vectorEnabled: Boolean = vectorKernel != null

  /** The MinHash signature — SIMD kernel when available, scalar twin
    * otherwise; value-identical either way. */
  def signature(bytes: Array[Byte], k: Int, n: Int): Array[Long] = {
    val kern = vectorKernel
    if (kern != null) kern.minhash(bytes, k, n)
    else HashKernels.minhash(bytes, k, n)
  }
}
