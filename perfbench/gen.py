"""Seeded input generator of the ``mopso_avg`` workload.

``blobs`` writes the paper's clustering input: K well-separated Gaussian
blobs in F dimensions, schema (id int64, features list<double>, label int32
1..K). Every value is a pure function of (seed, sizes): numpy's PCG64 stream
drives all draws, and pyarrow writes one parquet file (snappy, no dictionary
pages), so the same seed gives the same bytes.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=False,
                   write_statistics=True)


def _list_col(mat, value_type):
    n, d = mat.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(
        offsets, pa.array(mat.reshape(-1), type=value_type))


def blobs(path, seed, n, f, k, spread=100.0, sigma=1.0):
    """Writes ``n`` points of ``k`` Gaussian blobs in ``f`` dims to ``path``.

    The blob centers are fixed, ``spread`` along each of the first ``k``
    axes, so every pair is equally far apart; the seed draws the labels and
    the noise. The engine's K-Means init (Spark's k-means||) stopped in a
    local optimum for about a third of its seeds with ``spread`` 20 and
    centers drawn from the seed, and for about one in a hundred at 100; a
    stuck K-Means costs its ``Cli.run`` about 28 more Spark jobs (94
    instead of 66) and a quarter more time, so the seed, not the program,
    set a run's cost.
    """
    if k > f:
        raise ValueError(f"k = {k} blobs need at least k features, got {f}")
    rng = np.random.Generator(np.random.PCG64(seed))
    centers = spread * np.eye(k, f)
    labels = rng.integers(0, k, size=n)
    pts = centers[labels] + rng.normal(0.0, sigma, size=(n, f))
    _write(pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "features": _list_col(pts, pa.float64()),
        "label": pa.array((labels + 1).astype(np.int32)),
    }), path)
