#!/usr/bin/env bash
# Are all 302 gates still bit-identical? Records every gate's row count and
# order-insensitive row hash on perfbench's sf0.001 tables (three passes,
# `perfbench/run.py --record-fingerprints`) into target/fingerprints.tsv,
# then diffs gate, family, rows and hash against the committed
# perfbench/gate_fingerprints.tsv. Exits non-zero on any difference.
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p target
python3 perfbench/run.py --record-fingerprints target/fingerprints.tsv
cols() { grep -v '^#' "$1" | cut -f1-4; }
diff <(cols perfbench/gate_fingerprints.tsv) <(cols target/fingerprints.tsv)
echo "fingerprints.sh: $(cols target/fingerprints.tsv | wc -l) gates match"
