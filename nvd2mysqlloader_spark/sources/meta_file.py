""".meta sidecar parser (nvd2mysqlloader.py:46-64).

Feed sidecars are tiny ``key:value`` text files. Parse = value after
the FIRST colon — deliberately NOT the reference's
``lstrip('sha256:')``, whose char-set semantics corrupt hex digests
beginning with any of {s,h,a,2,5,6} (SURVEY §2 #2; the reference's own
docstring example ``64310FE…`` would lose its leading 6).
"""

from __future__ import annotations

import glob
import os

META_KEYS = ("lastModifiedDate", "size", "zipSize", "gzSize", "sha256")
_SIZE_KEYS = ("size", "zipSize", "gzSize")


def parse_meta_text(text: str) -> dict[str, str]:
    """One sidecar's ``key -> value``: value after the FIRST colon, CR
    stripped; the first line naming a key wins."""
    out: dict[str, str] = {}
    for line in text.splitlines():
        line = line.rstrip("\r")
        if ":" in line:
            k, v = line.split(":", 1)
            if k:
                out.setdefault(k, v)
    return out


def read_meta(landing: str) -> list[dict]:
    """Every ``*.meta`` sidecar in ``landing`` (hidden ``.``/``_``
    files skipped, as a Spark file scan skips them) → one dict per
    file, sorted by name: ``download_name`` (the file stem, mirroring
    the reference's feed naming nvdcve-1.1-<year>) plus ``META_KEYS``,
    a missing key ``None`` and the sizes as ints. Driver-side: a
    refresh's gate reads a few dozen short files."""
    out = []
    for path in sorted(glob.glob(os.path.join(glob.escape(landing),
                                              "*.meta"))):
        name = os.path.basename(path)
        if name[0] in "._":
            continue
        with open(path, encoding="utf-8") as fh:
            kv = parse_meta_text(fh.read())
        row = {"download_name": name[:-len(".meta")]}
        for k in META_KEYS:
            v = kv.get(k)
            row[k] = int(v) if v is not None and k in _SIZE_KEYS else v
        out.append(row)
    return out
