#!/bin/sh
# Build the package zip for `spark-submit --py-files`.
#
#   sh scripts/package.sh [OUT_ZIP]      # default: dist/timberline_spark.zip
#   spark-submit --py-files dist/timberline_spark.zip \
#       run_pipeline.py --sf-dir ... --out ... --run-id ...
set -e
OUT="$(realpath -m "${1:-$(dirname "$0")/../dist/timberline_spark.zip}")"
cd "$(dirname "$0")/.."
mkdir -p "$(dirname "$OUT")"
OUT="$OUT" python - <<'PY'
import os, pathlib, zipfile
out = os.environ["OUT"]
with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
    for p in sorted(pathlib.Path("timberline_spark").rglob("*.py")):
        z.write(p, p.as_posix())
print(f"wrote {out}")
PY
