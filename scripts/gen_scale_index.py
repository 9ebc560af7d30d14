#!/usr/bin/env python
"""Generate SCALE_INDEX.md: one row per scale-evidence sidecar.

19 SCALE_r*.json files carry the measured 100 TB story (VERDICT r7
item 6: a judge/next round should read ONE table, not 19 JSONs). The
row text is curated here — the sidecars are immutable historical
artifacts, so curation cannot drift — and the generator enforces the
two invariants that CAN drift: every SCALE_r*.json and
REGISTRY_SCAN_*.json on disk has a row, and every row's file exists. tests/test_docs_sync.py re-runs the
generator and asserts the committed index is byte-identical.

Usage: python scripts/gen_scale_index.py [--check]
"""

from __future__ import annotations

import glob
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# file -> (fixture/scope, what was measured, headline result)
ROWS: dict[str, tuple[str, str, str]] = {
    "SCALE_r06.json": (
        "sf0.1/0.3/1.0",
        "first consolidated ratio curve (17 queries)",
        "superlinear set identified -> r6 rework list",
    ),
    "SCALE_r06_fixed.json": (
        "sf0.1/0.3/1.0",
        "re-run after the r6 reworks",
        "previously-superlinear queries back under 1.0 time-per-data",
    ),
    "SCALE_r06_new.json": (
        "sf0.1/0.3/1.0",
        "r6's newly registered queries' first curve",
        "all sublinear-or-linear at fixture scales",
    ),
    "SCALE_r06_extra.json": (
        "sf0.1/0.3/1.0",
        "curve widening: additional families",
        "no superlinear entries",
    ),
    "SCALE_r06_spans_postfix.json": (
        "sf0.1/0.3/1.0",
        "span-dedup family after the explode fix",
        "spans detect/apply linear on the curve",
    ),
    "SCALE_r06_30x.json": (
        "30x (make_scale_fixture --factor 30)",
        "dedup/ANN families at 30x",
        "banded LSH completes; capped-pair arithmetic holds",
    ),
    "SCALE_r06_100x.json": (
        "100x (200k vectors / 60M lineitem)",
        "dedup/ANN + relational heavies at 100x",
        "near@200k completes post-verify-rework; cand diagnostics attached",
    ),
    "SCALE_r06_300x.json": (
        "300x embeddings-only (600k vectors)",
        "embedding family one-box ceiling probe",
        "600k DNF'd disk pre-rework -> motivated r7 score-in-bucket",
    ),
    "SCALE_r06_verify_join.json": (
        "sf fixtures",
        "verify-stage shuffle-hash + prenorm rework A/B",
        "verify joins stop sort-merging; prenorm cuts a corpus scan",
    ),
    "SCALE_r07.json": (
        "sf0.1/0.3/1.0 + 100x/300x embedding points",
        "consolidated r7 curve (24 queries) after keep-first/entropy fixes",
        "zero superlinear; worst time-per-data 0.85; near@600k 1083s/53GB",
    ),
    "SCALE_r07_repfix.json": (
        "sf0.1/0.3/1.0",
        "text_repetition_filter / curation_pipeline_v3 after the "
        "explode plan-shape fix",
        "21->7s and 22->11s at sf1.0, ratios linear",
    ),
    "SCALE_r07_bloom.json": (
        "1M-order change-feed fixture",
        "bloom change-feed pruning A/B (written by "
        "`scripts/bloom_pruning_demo.py --out SCALE_r07_bloom.json`)",
        "99.55% of fact exchange rows pruned",
    ),
    "SCALE_r07_cands.json": (
        "2k..2M vectors",
        "calibration (0.45) band-table candidate arithmetic",
        "cand/vec follows L*n/2^bits (~n^1.55 aggregate), not linear",
    ),
    "SCALE_r07_strict_cands.json": (
        "2k..2M vectors",
        "strict (0.90) band-table candidate arithmetic",
        "103->1082 cand/vec at 2k->2M, ~5.2x below calibration, "
        "within 2% of model",
    ),
    "SCALE_r07_strict.json": (
        "200k/600k/2M vectors",
        "production-threshold near-dup one-box campaign + threshold "
        "pushdown A/B",
        "2M completes (2962s, 47GB peak) post-pushdown; pre-pushdown "
        "DNF'd disk",
    ),
    "SCALE_r07_recall.json": (
        "2k/20k/200k vectors",
        "calibration-family empirical recall vs exact BLAS truth",
        "measured == collision model to 4 decimals at every scale",
    ),
    "SCALE_r07_stream.json": (
        "1x/30x streaming fixtures",
        "streaming state campaign (HDFS provider)",
        "tumbling state bounded at 10 windows; dedup wall flat at 30x",
    ),
    "SCALE_r07_stream_rocksdb.json": (
        "1x/30x streaming fixtures",
        "same campaign, RocksDB state provider",
        "identical results, +10-15% wall",
    ),
    "SCALE_r08_recall_strict.json": (
        "2k/20k/200k vectors (planted pairs)",
        "strict (0.90) family empirical recall vs exact BLAS truth "
        "over planted near-dups",
        "measured 1.000/0.985/0.990 vs model 0.990/0.987/0.990 — "
        "production banding delivers designed recall at every scale",
    ),
    "SCALE_r08.json": (
        "1M vectors (sf50emb), both families",
        "one-box envelope at 1M: calibration ceiling probe + strict "
        "fill-in point (one `scripts/scale_run.py point` process per "
        "point)",
        "both COMPLETE: 0.45 family 4289s/73.7 GB peak (the disk "
        "ceiling), 0.90 family 1448s/20 GB; 1.27 µs/candidate flat",
    ),
    "SCALE_r08_stream_spans.json": (
        "1x/30x documents (10 micro-batches each)",
        "span-registry growth per batch + compaction/retention passes",
        "registry linear in NOVEL windows (5.8->167.5 MB at 30x, flat "
        "per batch); retain-5 pass halves it; policy in SCALING.md r8",
    ),
    "SCALE_r09.json": (
        "200k / 1M embeddings (quiet box, warm-min of 2)",
        "heavy embedding points re-measured after the r9 pair-scoring "
        "vectorization (numpy batch replaces the per-candidate JVM "
        "fold; one `scripts/scale_run.py point` process per point)",
        "1M calibration 4289->530 s (8.1x; 0.157 µs/candidate, was "
        "1.27), 1M strict 1448->256 s; disk envelopes unchanged "
        "(73.5/17.3 GB) -- closes VERDICT r8 item 2's quiet re-run",
    ),
    "SCALE_r09_stream_spans_steady.json": (
        "30x documents, 40 micro-batches in 4 sessions",
        "span-registry MAINTENANCE LOOP: retention compaction "
        "(retain 5) between sessions, churned replay traffic past the "
        "horizon (written by `scripts/scale_run.py spans-steady "
        "--out SCALE_r09_stream_spans_steady.json`)",
        "bounded sawtooth: steady-state peak ratio 1.001, "
        "post-compaction floor constant (~42 MB), re-admission "
        "measured per compaction (~888k hashes = exactly the "
        "horizon-crossing replays)",
    ),
    "SCALE_r08_multimodal.json": (
        "sf0.1/0.3/1.0",
        "multimodal decode families' first ratio curve",
        "image_decode 0.91 / audio_spectrum 0.76 worst time-per-data — "
        "both sublinear, no root-cause note needed",
    ),
    "SCALE_r10.json": (
        "200k / 1M embeddings (same fixtures/method as SCALE_r09)",
        "heavy embedding points re-measured after the r10 carry-vector "
        "banding restructure (salt window, corpus join and bridge "
        "joins deleted; raw-bytes vector transport; one "
        "`scripts/scale_run.py point` process per point)",
        "1M calibration 530->313 s (1.7x; 0.093 µs/candidate), 1M "
        "strict 256->125 s (2.05x); disk envelopes intact (72.0/20.0 "
        "GB); cumulative over both optimization rounds 4289->313 s "
        "(13.7x)",
    ),
    "REGISTRY_SCAN_sf1.json": (
        "sf1.0 (make_scale_fixture --factor 10)",
        "every registered query run once at sf1.0 (written by "
        "`scripts/scale_run.py registry <sf1.0 dir> REGISTRY_SCAN_sf1.json`)",
        "240 ok / 0 errors in 764 s; slowest curation_pipeline_v3 21.8 s",
    ),
}

HEADER = """# SCALE_INDEX — one row per scale-evidence campaign

*Generated by `scripts/gen_scale_index.py` (checked by
`tests/test_docs_sync.py`). The measured 100 TB story lives in these
sidecars; `SCALING.md` carries the design arguments they test.*

| file | fixture / scope | measured | headline |
|---|---|---|---|
"""


def render() -> str:
    # No existence filter here: main() errors on a row whose sidecar is
    # missing (a curated row for a deleted file must fail loudly, not
    # silently drop out of the table — ADVICE r8).
    lines = [HEADER]
    for name, (scope, what, headline) in ROWS.items():
        lines.append(f"| `{name}` | {scope} | {what} | {headline} |\n")
    return "".join(lines)


def main() -> int:
    on_disk = {
        os.path.basename(p)
        for pattern in ("SCALE_r*.json", "REGISTRY_SCAN_*.json")
        for p in glob.glob(os.path.join(_ROOT, pattern))
    }
    unlisted = sorted(on_disk - set(ROWS))
    if unlisted:
        print(f"ERROR: sidecars with no index row: {unlisted}", file=sys.stderr)
        return 1
    stale = sorted(set(ROWS) - on_disk)
    if stale:
        print(f"ERROR: index rows whose sidecar file is missing: {stale}",
              file=sys.stderr)
        return 1
    text = render()
    out = os.path.join(_ROOT, "SCALE_INDEX.md")
    if "--check" in sys.argv:
        with open(out) as f:
            if f.read() != text:
                print("ERROR: SCALE_INDEX.md is stale; re-run "
                      "scripts/gen_scale_index.py", file=sys.stderr)
                return 1
        return 0
    with open(out, "w") as f:
        f.write(text)
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
