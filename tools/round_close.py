#!/usr/bin/env python
"""One-command round-closing gate: the reproducible "ALL STRICT-OK"
sweep NOTES_r{N} cites.

Runs, in order, failing fast on the first non-zero exit:

  1. full pytest (tests/)
  2. tools/strict_verify.py over the FULL registry at sf0.01
  3. the same at sf0.1 (float/rounding boundaries are data-dependent)
  4. a driver-contract smoke: __spark_entry__.entry() returns rows and
     queries()/oracle_sql() keys line up

Usage:  python tools/round_close.py [--skip-pytest]
Exit 0 = every gate green; the summary line is what NOTES quotes.

The gate is anchored to a COMMIT (VERDICT r9 "what's wrong" #1: a
NOTES block claimed "no source change after the gate" while a later
commit had touched query source).  The tool refuses to run on a dirty
tree, prints the exact HEAD hash in the summary line, and NOTES_r{N}
must quote that hash; any commit after it that touches *.py outside
tools/ re-triggers the gate.
"""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def run(
    label: str, cmd: list[str], env: dict | None = None, capture: bool = False
) -> str:
    """Run one gate step; stream its output; exit non-zero on failure.

    With capture=True the streamed lines are ALSO returned so the
    caller can parse counts out of the verbatim output (VERDICT r10
    "what's wrong" #1: NOTES must quote the gate line, never
    transcribe numbers by hand — so the gate line itself must carry
    them)."""
    import os

    t0 = time.time()
    print(f"== {label}: {' '.join(cmd)}", flush=True)
    full_env = dict(os.environ)
    if env:
        full_env.update(env)
    lines: list[str] = []
    if capture:
        proc = subprocess.Popen(
            cmd, cwd=REPO, env=full_env,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        )
        assert proc.stdout is not None
        for line in proc.stdout:
            print(line, end="", flush=True)
            lines.append(line)
        rc = proc.wait()
    else:
        rc = subprocess.call(cmd, cwd=REPO, env=full_env)
    print(f"== {label}: rc={rc} ({time.time() - t0:.0f}s)", flush=True)
    if rc != 0:
        print(f"ROUND-CLOSE FAILED at {label}", flush=True)
        sys.exit(rc)
    return "".join(lines)


def parse_pytest_counts(output: str) -> str:
    """Extract 'collected=N passed=N skipped=N failed=N' from verbatim
    pytest output; returns a machine-parseable fragment for the
    ROUND-CLOSE line.  Refuses (exits) if the counts cannot be found —
    an unparseable gate record is as bad as a transcribed one."""
    import re

    m_coll = re.search(r"collected (\d+) items", output)
    # summary line, e.g. "=== 429 passed, 3 skipped in 595.12s ==="
    counts = {"passed": 0, "skipped": 0, "failed": 0, "error": 0}
    tail: list[tuple[str, str]] = []
    for line in reversed(output.splitlines()):
        tail = re.findall(r"(\d+) (passed|skipped|failed|error)s?", line)
        if tail:
            break
    for n, kind in tail:
        counts[kind] = int(n)
    if m_coll is None or not tail:
        print(
            "ROUND-CLOSE FAILED: could not parse pytest counts from "
            "output — gate line must carry verbatim numbers",
            flush=True,
        )
        sys.exit(4)
    return (
        f"pytest collected={m_coll.group(1)} passed={counts['passed']} "
        f"skipped={counts['skipped']} failed={counts['failed']}"
    )


def _cited_size(rel: str) -> int | None:
    """Byte size of a cited artifact, or None when it does not exist.
    ``<rev>:tools/x.json`` names a file deleted from the tree, read from
    that git revision; a bare ``tools/x.json`` is read from the tree."""
    rev, sep, _ = rel.partition(":")
    if not sep:
        p = REPO / rel
        return p.stat().st_size if p.is_file() else None
    out = subprocess.run(
        ["git", "cat-file", "-s", rel], cwd=REPO, capture_output=True, text=True
    )
    return int(out.stdout) if out.returncode == 0 else None


def check_evidence() -> None:
    """Evidence-rule enforcement (VERDICT r13 ask #2): every
    `tools/*.{json,jsonl,log}` path cited in SCALE.md or any
    NOTES_r*.md must exist and be non-empty (≥16 bytes — the r13
    failure mode was a 1-byte file holding a lone newline, committed
    where a measured per-key-state table's artifact should have been).
    A citation in git-revision form (`<sha>:tools/x.json`) must exist,
    non-empty, at that revision.  The rule itself stood since r13; this
    makes the gate red instead of trusting the citer."""
    import re

    pat = re.compile(
        r"(?:\b[0-9a-f]{7,40}:)?tools/[A-Za-z0-9_\-./]+?\.(?:json|jsonl|log)\b"
    )
    cited: dict[str, list[str]] = {}
    for doc in sorted([REPO / "SCALE.md", *REPO.glob("NOTES_r*.md")]):
        for m in pat.finditer(doc.read_text()):
            cited.setdefault(m.group(0), []).append(doc.name)
    bad = []
    for rel, docs in sorted(cited.items()):
        size = _cited_size(rel)
        if size is None:
            bad.append(f"  MISSING {rel} (cited in {', '.join(sorted(set(docs)))})")
        elif size < 16:
            bad.append(
                f"  EMPTY ({size} B) {rel} "
                f"(cited in {', '.join(sorted(set(docs)))})"
            )
    if bad:
        print(
            "ROUND-CLOSE FAILED at evidence check — cited artifacts "
            "missing or empty:\n" + "\n".join(bad),
            flush=True,
        )
        sys.exit(5)
    print(
        f"== evidence check: {len(cited)} cited tools artifacts, "
        "all present and non-empty",
        flush=True,
    )


def main() -> None:
    skip_pytest = "--skip-pytest" in sys.argv
    dirty = subprocess.run(
        ["git", "status", "--porcelain"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    if dirty:
        print(
            "ROUND-CLOSE REFUSED: working tree is dirty — the gate "
            "anchors to a commit, so commit (or stash) first:\n" + dirty,
            flush=True,
        )
        sys.exit(2)
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    print(f"== gate tree: HEAD={head}", flush=True)
    check_evidence()
    pytest_frag = "pytest SKIPPED (--skip-pytest)"
    if not skip_pytest:
        # no -q: the "collected N items" header must appear so the
        # gate line carries collected/passed/skipped verbatim, and
        # NOTES can only paste, never transcribe (VERDICT r10 #2).
        out = run(
            "pytest",
            [sys.executable, "-m", "pytest", "tests/", "-x"],
            capture=True,
        )
        pytest_frag = parse_pytest_counts(out)
    run("strict sf0.01", [sys.executable, "tools/strict_verify.py"])
    run(
        "strict sf0.1",
        [sys.executable, "tools/strict_verify.py"],
        env={"SF_DIR": "/root/testdata/sf0.1"},
    )
    run(
        "driver contract",
        [
            sys.executable,
            "-c",
            (
                "import sys, importlib.util; sys.path.insert(0, '.');"
                "spec = importlib.util.spec_from_file_location("
                "'__spark_entry__', '__spark_entry__.py');"
                "m = importlib.util.module_from_spec(spec);"
                "spec.loader.exec_module(m);"
                "from aind_smartspim_data_transformation_spark.session import "
                "build_local_session;"
                "spark = build_local_session(cpus=8);"
                "rows = m.entry(spark).collect(); assert rows, 'entry empty';"
                "q = m.queries(); o = m.oracle_sql();"
                "missing = set(o) - set(q);"
                "assert not missing, f'oracles without queries: {missing}';"
                "print(f'entry rows={len(rows)} queries={len(q)} "
                "oracles={len(o)}')"
            ),
        ],
    )
    now_head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    if now_head != head:
        print(
            f"ROUND-CLOSE FAILED: HEAD moved during the gate "
            f"({head} -> {now_head}) — rerun on the final tree",
            flush=True,
        )
        sys.exit(3)
    # the tree must ALSO still be clean: uncommitted edits made while
    # the gate ran mean later steps executed against a tree that is
    # not commit {head} — exactly the spoof the anchor exists to stop
    now_dirty = subprocess.run(
        ["git", "status", "--porcelain"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    if now_dirty:
        print(
            "ROUND-CLOSE FAILED: tree became dirty during the gate — "
            "later steps did not run against the anchored commit:\n"
            + now_dirty,
            flush=True,
        )
        sys.exit(3)
    # One machine-parseable line carrying the verbatim pytest counts:
    # NOTES quotes this line unedited (reconciles against
    # `pytest --collect-only -q` on the anchored hash).
    print(f"ROUND-CLOSE: ALL GREEN at {head} | {pytest_frag}", flush=True)


if __name__ == "__main__":
    main()
