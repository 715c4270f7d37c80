"""The query registry: pinned key set and oracle strings, the driver-window
order, and an import that reads no files."""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as entrymod

REPO = Path(__file__).resolve().parents[1]


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_registry_names_and_oracles_are_pinned():
    # any added, dropped or renamed query, or any changed oracle string,
    # moves one of these hashes
    names = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(names) == 480 and len(oracles) == 479
    assert set(names) - set(oracles) == {"compression_ratio"}
    assert (
        _sha256("\n".join(sorted(names)))
        == "fcbf6becd879f68b0da7812c5f1ef113b56919a6b47c3c0af63692acf89b61ab"
    )
    assert (
        _sha256(json.dumps(sorted(oracles.items()), ensure_ascii=False))
        == "fc0914e0e07a9231176cc22010794e4b84177185b7b5a9b2576392385263b03b"
    )


def test_driver_window_holds_only_never_checked_queries():
    checked = entrymod.driver_checked()
    assert len(checked) >= 214  # the committed CORRECTNESS_r01-r05 artifacts
    head = list(entrymod.queries())[:50]
    assert [name for name in head if name in checked] == []


def test_importing_the_registry_reads_no_repo_json():
    probe = (
        "import os, sys\n"
        "opened = []\n"
        "def hook(event, args):\n"
        "    if event == 'open' and isinstance(args[0], (str, bytes)):\n"
        "        opened.append(os.fsdecode(args[0]))\n"
        "sys.addaudithook(hook)\n"
        "import legal_document_ocr_spark.queries as Q\n"
        "assert len(Q.SPARK) == 480\n"
        "print('\\n'.join(p for p in opened if p.endswith('.json')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    # pyspark reads its own error-conditions table; the package reads none
    ours = [p for p in out.stdout.splitlines() if (REPO / p).resolve().is_relative_to(REPO)]
    assert ours == []
