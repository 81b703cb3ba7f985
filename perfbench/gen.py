"""Seeded input generators for the benchmark.

``make_tables`` writes the tables the registered queries and streams
read with the repo's own deterministic generator
(``tools/gen_testdata.py``, fixed seed), so every run reads the same
tables. ``make_etl_inputs`` writes detenidos-shaped source resources
for ``run_etl``: one CSV and one two-sheet XLSX with the raw Spanish
headers the contract normalizes, plus a changed version of the CSV
(some rows edited, some new).

The same seed gives byte-identical files: every value comes from one
``numpy`` generator and nothing depends on the clock.
"""

from __future__ import annotations

import contextlib
import csv
import os
import sys

import numpy as np

from gov_ec_pipeline_etl_spark.sources.xlsx_lite import write_xlsx
from tools.gen_testdata import generate


def make_tables(sf: float, outdir: str) -> None:
    """Write the query tables at scale factor ``sf`` (lineitem has
    6M·sf rows) into ``outdir``; the generator's row-count lines go to
    stderr so stdout keeps only the result line."""
    with contextlib.redirect_stdout(sys.stderr):
        generate(sf, outdir)


# --- detenidos-shaped ETL resources -----------------------------------

# The key, critical and rule-bearing columns of the contract. With all 18
# raw headers of a real resource, a cycle of 2 x 5,000 rows exhausts the
# 3 GB JVM heap while upserting the second resource (perfbench/README.md,
# "Open defect"), so the resources stay this narrow until that is fixed.
HEADERS = [
    "Código ICCS", "Fecha Detención Aprehensión", "Hora Detención Aprehensión",
    "Tipo", "Presunta Infracción", "Edad", "Sexo", "Código Provincia",
    "Nombre Provincia", "Código Cantón",
]
EXTRA_HEADER = "Observaciones"  # not in the contract: packed into extras
INFRACCIONES = [
    "ROBO", "HURTO", "ROBO AGRAVADO", "TENENCIA ILÍCITA", "ASESINATO",
    "TRÁFICO DE SUSTANCIAS", "ESTAFA", "LESIONES", "VIOLENCIA FÍSICA",
]
PROVINCIAS = [
    ("01", "Azuay"), ("07", "El Oro"), ("09", "Guayas"), ("11", "Loja"),
    ("13", "Manabí"), ("17", "Pichincha"), ("18", "Tungurahua"),
]
SEXOS = ["m", "M", "f", "FEMENINO", "Masculino"]
EDITED_AGE = 119  # edited rows carry this age; generated ages are 18-79
EDIT_FRAC = 0.10  # share of resource a's rows the changed version edits
NEW_FRAC = 0.05  # and the share it adds as new rows
YEARS = 3  # fechas span 2021-2023, so the table has three `ano` partitions


def _etl_rows(rng, start: int, n: int) -> list[list[str]]:
    """Rows ``start .. start+n-1``. Row ``i``'s fecha is a distinct
    second of 2021-2023 (key column), so business keys never collide
    across rows or resources."""
    span = YEARS * 365 * 86_400
    secs = np.datetime64("2021-01-01T00:00:00", "s") + (
        (np.arange(start, start + n) * 7_919) % span
    ).astype("timedelta64[s]")
    prov = rng.integers(0, len(PROVINCIAS), n)
    canton = rng.integers(1, 10, n)
    iccs = rng.integers(101, 999, n)
    infr = rng.integers(0, len(INFRACCIONES), n)
    tipo = rng.integers(0, 2, n)
    edad = rng.integers(18, 80, n)
    sexo = rng.integers(0, len(SEXOS), n)
    rows = []
    for j in range(n):
        pcode, pname = PROVINCIAS[prov[j]]
        ts = str(secs[j]).replace("T", " ")
        rows.append([
            f"{iccs[j]:04d}", ts, ts[11:16],
            "DETENIDO" if tipo[j] else "APREHENDIDO", INFRACCIONES[infr[j]],
            str(edad[j]), SEXOS[sexo[j]], pcode, pname, f"{pcode}{canton[j]:02d}",
        ])
    return rows


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def make_etl_inputs(outdir: str, seed: int, rows: int) -> dict:
    """Write the ETL resources into ``outdir`` and return a manifest:
    ``resources`` (first-load catalog view: CSV ``a`` and XLSX ``b``),
    ``changed`` (the catalog view after ``a`` changed), ``n_edited`` /
    ``n_new`` for the changed resource, and ``key_files``: CSVs holding
    every row of the final inputs, for an independent distinct-key
    count."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows_a = _etl_rows(rng, 0, rows)
    rows_b = _etl_rows(rng, rows, rows)
    # resource a carries one column the contract does not declare
    notes = [f"nota {k}" for k in rng.integers(0, 50, rows + int(rows * NEW_FRAC))]
    rows_a = [r + [n] for r, n in zip(rows_a, notes)]

    n_edit, n_new = int(rows * EDIT_FRAC), int(rows * NEW_FRAC)
    edited = set(rng.choice(rows, n_edit, replace=False).tolist())
    new_rows = [r + [n] for r, n in zip(_etl_rows(rng, 2 * rows, n_new), notes[rows:])]
    rows_a2 = [
        r[:5] + [str(EDITED_AGE)] + r[6:] if i in edited else r
        for i, r in enumerate(rows_a)
    ] + new_rows

    files = {
        "a": os.path.join(outdir, "detenidos_a.csv"),
        "b": os.path.join(outdir, "detenidos_b.xlsx"),
        "a2": os.path.join(outdir, "detenidos_a_v2.csv"),
        "b_rows": os.path.join(outdir, "detenidos_b_rows.csv"),
    }
    _write_csv(files["a"], HEADERS + [EXTRA_HEADER], rows_a)
    _write_csv(files["a2"], HEADERS + [EXTRA_HEADER], rows_a2)
    half = rows // 2
    # sheet "Contenido" is a table of contents the reader must skip
    write_xlsx(files["b"], {
        "Contenido": [["Hoja", "Descripción"], ["1", "enero-junio"], ["2", "julio-diciembre"]],
        "1": [HEADERS] + rows_b[:half],
        "2": [HEADERS] + rows_b[half:],
    })
    _write_csv(files["b_rows"], HEADERS, rows_b)

    def res(rid: str, path: str, version: int) -> dict:
        return {
            "id": rid, "path": path, "size": os.path.getsize(path),
            "last_modified": f"2024-0{version}-01T00:00:00Z",
            "url": f"https://datos.example/{rid}", "format": os.path.splitext(path)[1][1:],
        }

    first = [res("a", files["a"], 1), res("b", files["b"], 1)]
    return {
        "resources": first,
        "changed": [res("a", files["a2"], 2), first[1]],
        "n_rows_a": rows,
        "n_edited": n_edit,
        "n_new": n_new,
        "key_files": [files["a2"], files["b_rows"]],
    }
