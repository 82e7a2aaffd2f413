#!/usr/bin/env python
"""Package blink_reloaded_spark for `spark-submit --py-files` (north_rule
packaging requirement). Writes blink_reloaded_spark.zip containing the
package (pure Python, no build step) into the given output directory,
default dist/ at the repo root, and prints the zip's path.

    python scripts/make_pyfiles_zip.py [OUT_DIR]
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out_dir: str | None = None) -> str:
    out_dir = out_dir or os.path.join(ROOT, "dist")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "blink_reloaded_spark.zip")
    pkg = os.path.join(ROOT, "blink_reloaded_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)
    return out


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
