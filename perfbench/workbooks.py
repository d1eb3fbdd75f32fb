"""Seeded "Transfer Report" workbook set and its expected ingest result.

Each workbook holds one ``Transfer Report`` sheet and one ``Summary`` sheet
the reader must skip. The report rows exercise every ingest stage:

- one folder row per directory, so parent-id resolution has parents to find;
- file rows that re-report ``(file_name, target_file_id)`` keys from earlier
  workbooks with newer status and times, so last-write-wins has rows to
  drop. Which of two workbooks arrives later is unspecified (the engine
  scans workbooks in split order, the reference in directory-listing
  order), so a re-report keeps its file's checksum: the hashed result does
  not depend on that order;
- junk and empty numeric and date cells, which the tolerant casts null out.

``expected`` recomputes the ingest result in plain Python, independent of
the engine: row count, the two ratios the pipeline's work is judged by and
a value hash over ``(file_name, target_file_id, checksum, parent_id)``.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import RAW_COLUMNS
from shuttlestandalonedbcreator_spark.sources.excel import write_workbook

REPORT_SHEET = "Transfer Report"
_STATUSES = ["success", "success", "success", "match-exists", "filtered", "failed", "Re-Try (auto)", ""]
_JUNK_NUMBERS = ["n/a", "", "-", "12kB"]
_JUNK_DATES = ["", "0", "junk", "#VALUE!"]
_REREPORT_SHARE = 0.1  # of each later workbook's file rows


@dataclass(frozen=True)
class Expected:
    rows_in: int
    rows_out: int
    with_parent: int
    value_hash: str

    @property
    def dedup_drop_ratio(self) -> float:
        return (self.rows_in - self.rows_out) / self.rows_in

    @property
    def parent_match_ratio(self) -> float:
        return self.with_parent / self.rows_out


def _folder_id(path: str) -> str:
    return str(9_000_000_000 + int(hashlib.md5(path.encode()).hexdigest()[:8], 16))


def _row(
    rng: random.Random,
    path: str,
    file_id: str,
    is_folder: bool,
    version: int,
    checksum: str | None = None,
) -> list[str]:
    size = "" if is_folder else str(rng.randrange(0, 5_000_000))
    if not is_folder and rng.random() < 0.02:
        size = rng.choice(_JUNK_NUMBERS)
    created = f"{44000 + rng.random() * 900:.5f}"
    if rng.random() < 0.02:
        created = rng.choice(_JUNK_DATES)
    status = rng.choice(_STATUSES)
    cells = {
        "file_name": path,
        "source_file_size": size,
        "target_file_size": size,
        "target_file_id": file_id,
        "source_account": f"src-{rng.randrange(4)}",
        "target_account": f"tgt-{rng.randrange(4)}",
        "creation_time": created,
        "source_last_modified_by": f"user{rng.randrange(13)}",
        "source_last_modification_time": f"{44100 + rng.random() * 900:.5f}",
        "target_last_modification_time": f"{45000 + version}.5",
        "last_access_time": f"{44500 + rng.random() * 100:.4f}",
        "start_time": str(44600 + version),
        "transfer_time": str(44601 + version),
        "checksum_method": "" if is_folder else "MD5",
        "checksum": "" if is_folder else checksum or f"{rng.getrandbits(64):016x}",
        "file_status": status,
        "errors": "timeout" if status == "failed" else "",
        "status": "done",
        "translated_file_name": path.rsplit("/", 1)[-1],
    }
    return [cells[c] for c in RAW_COLUMNS]


def build_reports(seed: int, n_books: int, rows_per_book: int) -> list[list[list[str]]]:
    """Data rows (no header) of every workbook's report sheet, in workbook
    order. Later workbooks re-report keys of earlier ones."""
    rng = random.Random(seed)
    books: list[list[list[str]]] = []
    files: list[tuple[str, str, str]] = []  # (path, id, checksum) reported so far
    for k in range(n_books):
        client = f"/client{k % 3}"
        job = f"{client}/job{k:02d}"
        rows: list[list[str]] = []
        folders = [client, job]
        n_dirs = max(1, rows_per_book // 200)
        dirs = [f"{job}/d{d // 8}/s{d % 8}" for d in range(n_dirs)]
        for d in dirs:
            top = d.rsplit("/", 1)[0]
            if top not in folders:
                folders.append(top)
            folders.append(d)
        for folder in folders:
            rows.append(_row(rng, folder, _folder_id(folder), True, k))
        n_rereport = int(rows_per_book * _REREPORT_SHARE) if files else 0
        for path, file_id, checksum in rng.sample(files, min(n_rereport, len(files))):
            rows.append(_row(rng, path, file_id, False, k, checksum))
        new_files = []
        for i in range(max(0, rows_per_book - len(rows))):
            path = f"{rng.choice(dirs)}/file_{i}.dat"
            file_id = str(10_000_000 * (k + 1) + i)
            rows.append(_row(rng, path, file_id, False, k))
            new_files.append((path, file_id, rows[-1][RAW_COLUMNS.index("checksum")]))
        files.extend(new_files)
        books.append(rows)
    return books


def write_reports(books: list[list[list[str]]], out_dir: str) -> list[str]:
    """Write each workbook with its report sheet and a ``Summary`` sheet."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, rows in enumerate(books):
        path = os.path.join(out_dir, f"report_{k:02d}.xlsx")
        summary = [["File Name", "Rows"], *([f"/summary/{k}/{i}", str(len(rows))] for i in range(5))]
        write_workbook({REPORT_SHEET: [list(RAW_COLUMNS), *rows], "Summary": summary}, path)
        paths.append(path)
    return paths


def _parent_folder(path: str) -> str | None:
    """Plain-Python restatement of ``functions.paths.parent_folder``."""
    if path.strip() == "" or len(path.removeprefix("/").split("/")) <= 1:
        return None
    cut = path.rfind("/")
    return path[:cut] if cut > 0 else None


def value_hash(rows) -> str:
    """Order-free hash of ``(file_name, target_file_id, checksum, parent_id)``
    tuples."""
    h = hashlib.md5()
    for row in sorted(tuple("\x00" if v is None else str(v) for v in r) for r in rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def expected(books: list[list[list[str]]]) -> Expected:
    """The ingest result by the engine's documented semantics: arrival
    order is workbook then row; the last row per ``(file_name,
    target_file_id)`` wins; ``parent_id`` is the ``target_file_id`` of the
    latest surviving row named by ``parent_folder``."""
    fi = RAW_COLUMNS.index("file_name")
    ti = RAW_COLUMNS.index("target_file_id")
    ci = RAW_COLUMNS.index("checksum")
    last: dict[tuple[str, str], tuple[int, list[str]]] = {}
    seq = 0
    for rows in books:
        for row in rows:
            last[(row[fi], row[ti])] = (seq, row)
            seq += 1
    latest_id: dict[str, tuple[int, str]] = {}
    for (name, file_id), (s, _) in last.items():
        if file_id != "" and s > latest_id.get(name, (-1, ""))[0]:
            latest_id[name] = (s, file_id)
    out = []
    for (name, file_id), (_, row) in last.items():
        parent = _parent_folder(name)
        parent_id = latest_id[parent][1] if parent in latest_id else None
        out.append((name, file_id, row[ci], parent_id))
    return Expected(
        rows_in=seq,
        rows_out=len(out),
        with_parent=sum(r[3] is not None for r in out),
        value_hash=value_hash(out),
    )
