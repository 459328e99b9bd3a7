package graft.index;

import jdk.incubator.vector.DoubleVector;
import jdk.incubator.vector.VectorShuffle;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD (jdk.incubator.vector) form of one subDim-8 ADC subquantizer block:
 * the squared residual of a PCA-space query against one reconstructed
 * block, sum_t (q[t] - (c[t] + b[t]))^2 over t = 0..7, summed in the
 * pairwise-tree grouping every serving path and the DuckDB replay use,
 * ((s0+s1)+(s2+s3)) + ((s4+s5)+(s6+s7)).
 *
 * The result is bit-identical to the scalar expression: each lane op is
 * the scalar op on the same doubles (the JVM never fuses a mul and an
 * add), and the two rearranged adds pair exactly the terms the tree
 * pairs (a pair sum is commutative, so lane 0 of s + swap(s) is s0+s1).
 * The block is held as two 4-lane vectors, which fit a 256-bit register
 * on AVX2 and AVX-512 alike.
 *
 * Callers gate on {@link #selfTest()} and run their scalar loop when the
 * incubator module is absent at runtime or the hardware lacks 256-bit
 * double vectors (the vector API would otherwise run its slow Java
 * emulation).
 */
public final class SimdAdc {
  private static final VectorSpecies<Double> S = DoubleVector.SPECIES_256;
  private static final VectorShuffle<Double> PAIRS =
      VectorShuffle.fromValues(S, 1, 0, 3, 2);
  private static final VectorShuffle<Double> HALVES =
      VectorShuffle.fromValues(S, 2, 3, 0, 1);

  private SimdAdc() {}

  /**
   * True when the vector path is usable here: the module loads, the
   * preferred species is at least 256 bits wide, and one block equals the
   * tree grouping on inputs where a sequential fold rounds differently.
   */
  public static boolean selfTest() {
    if (DoubleVector.SPECIES_PREFERRED.vectorBitSize() < 256) return false;
    double[] q = {1e8, 1, 1, 1, 0, 0, 0, 3};
    double[] z = new double[8];
    return block8(q, 0, z, 0, z, 0) == (1e16 + 2) + 9.0;
  }

  /** Sum over one 8-wide block of (q - (c + b))^2 in the tree grouping. */
  public static double block8(double[] q, int qOff, double[] c, int cOff,
                              double[] b, int bOff) {
    DoubleVector lo = DoubleVector.fromArray(S, q, qOff).sub(
        DoubleVector.fromArray(S, c, cOff).add(DoubleVector.fromArray(S, b, bOff)));
    DoubleVector hi = DoubleVector.fromArray(S, q, qOff + 4).sub(
        DoubleVector.fromArray(S, c, cOff + 4).add(DoubleVector.fromArray(S, b, bOff + 4)));
    lo = lo.mul(lo);
    hi = hi.mul(hi);
    lo = lo.add(lo.rearrange(PAIRS));
    hi = hi.add(hi.rearrange(PAIRS));
    lo = lo.add(lo.rearrange(HALVES));
    hi = hi.add(hi.rearrange(HALVES));
    return lo.lane(0) + hi.lane(0);
  }
}
