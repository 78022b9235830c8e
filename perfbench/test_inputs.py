"""The seeded generator must give byte-identical inputs for one seed and
different inputs for another.  Run with:

    python3 -m pytest perfbench/test_inputs.py -q -p no:cacheprovider
"""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402


def _generate(seed, out_dir):
    t = inputs.Traffic()
    inputs.write_train_inputs(seed, t, os.path.join(out_dir, "train"))
    inputs.write_stream_backlog(seed, t, os.path.join(out_dir, "stream"))
    inputs.write_documents(seed, t, os.path.join(out_dir, "docs"))
    digest = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for name in sorted(files):
            path = os.path.join(root, name)
            digest.update(os.path.relpath(path, out_dir).encode())
            with open(path, "rb") as f:
                digest.update(f.read())
    script = inputs.make_serve_script(seed, t)
    for frame in (script.stats, script.profile):
        digest.update(frame.to_csv(index=False).encode())
    for name in sorted(script.puts):
        digest.update(script.puts[name].tobytes())
    digest.update(script.request_keys.tobytes())
    digest.update(script.request_amounts.tobytes())
    return digest.hexdigest()


def test_same_seed_same_bytes(tmp_path):
    assert _generate(7, str(tmp_path / "a")) == _generate(7, str(tmp_path / "b"))


def test_other_seed_other_bytes(tmp_path):
    assert _generate(7, str(tmp_path / "a")) != _generate(8, str(tmp_path / "b"))


def test_planted_pairs_are_near_duplicates():
    # every planted pair clears the Jaccard threshold the curate check uses
    from workloads import JACCARD_THRESHOLD, jaccard

    docs, planted = inputs.make_documents(7, inputs.Traffic())
    texts = docs.column("text").to_pylist()
    assert planted
    assert all(jaccard(texts[a], texts[b]) >= JACCARD_THRESHOLD for a, b in planted)


def test_stream_disorder_stays_within_the_watermark_bound(tmp_path):
    import pyarrow.parquet as pq

    t = inputs.Traffic()
    d = inputs.write_stream_backlog(7, t, str(tmp_path))["dir"]
    files = sorted(os.listdir(d))
    ts = [v for f in files for v in pq.read_table(os.path.join(d, f)).column("ts").to_pylist()]
    running_max = float("-inf")
    for v in ts:
        assert v > running_max - t.max_out_of_orderness_ms
        running_max = max(running_max, v)
