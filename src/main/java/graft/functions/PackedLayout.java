package graft.functions;

import java.nio.ByteOrder;

/**
 * Byte order of the packed shingle sets that
 * {@code SketchExprs.ShingleHashPacked} writes and
 * {@code SketchExprs.JaccardSortedPacked} reads: little-endian on every
 * host, as in BloomExprs' bitsets, because the bytes cross shuffles
 * between executors. Java, because Scala 2.13 cannot declare a
 * {@code static final} field, and only such a field is a constant the
 * JIT folds: a little-endian host then writes the plain native image
 * with no branch left.
 */
public final class PackedLayout {
  private PackedLayout() {}

  /** True on a big-endian host, where each long is byte-swapped. */
  public static final boolean SWAP_BYTES =
      ByteOrder.nativeOrder() == ByteOrder.BIG_ENDIAN;

  /**
   * {@code v} byte-swapped on a big-endian host, so a native-order
   * {@code Platform.putLong}/{@code getLong} stores or loads
   * little-endian bytes (its own inverse: the same call packs and
   * unpacks).
   */
  public static long littleEndian(long v) {
    return SWAP_BYTES ? Long.reverseBytes(v) : v;
  }
}
