"""The generator is a pure function of the seed: the same seed gives
byte-identical input files, through the in-process writers and through
the open-loop generator process alike.

    python3 -m pytest perfbench/test_gen.py -q
"""

import hashlib
import os
import subprocess
import sys

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_CUSTOMERS = [("5", "fred", 34, False, 0), ("7", "sue", 25, False, 1)]


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _write_inputs(seed: int, out: str) -> dict[str, str]:
    stage = os.path.join(out, "stage")
    os.makedirs(stage)
    shape = gen.CdcShape(n_keys=5_000)
    paths = [os.path.join(out, "snapshot.parquet")]
    gen.write_parquet_atomic(gen.cdc_snapshot(seed, shape), paths[0], stage)
    load = gen.CdcLoad(seed, shape)
    for i in range(3):
        paths.append(os.path.join(out, gen.tail_name(i)))
        gen.write_parquet_atomic(load.tail_file(i), paths[-1], stage)
    flag = gen.FlagshipLoad(seed, GOLDEN_CUSTOMERS)
    for r in (2, 3):
        rows = flag.round_rows(r)
        for name, cols in (
            ("customers", gen.CUSTOMERS_COLS),
            ("orders", gen.ORDERS_COLS),
            ("shipments", gen.SHIPMENTS_COLS),
        ):
            paths.append(os.path.join(out, f"{name}-{r}.jsonl"))
            gen.write_jsonl_atomic(paths[-1], rows[name], cols, stage)
    return {os.path.basename(p): _sha(p) for p in paths}


def test_same_seed_gives_identical_files(tmp_path):
    a = _write_inputs(7, str(tmp_path / "a"))
    b = _write_inputs(7, str(tmp_path / "b"))
    assert a == b


def test_another_seed_gives_other_files(tmp_path):
    a = _write_inputs(7, str(tmp_path / "a"))
    c = _write_inputs(8, str(tmp_path / "c"))
    assert all(a[k] != c[k] for k in a)


def test_generator_process_lands_the_same_files(tmp_path):
    src, stage = tmp_path / "src", tmp_path / "stage"
    src.mkdir()
    stage.mkdir()
    proc = subprocess.Popen(
        [
            sys.executable, os.path.join(HERE, "gen.py"), "land", "--seed", "7",
            "--src", str(src), "--stage", str(stage), "--first", "3",
            "--count", "2", "--interval", "0.01",
        ],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    assert proc.stdout.readline().strip() == "ready"
    out, _ = proc.communicate("0\n", timeout=120)
    assert proc.returncode == 0 and '"landing"' in out
    load = gen.CdcLoad(7)
    for i in (3, 4):
        gen.write_parquet_atomic(load.tail_file(i), str(tmp_path / gen.tail_name(i)), str(stage))
        assert _sha(str(src / gen.tail_name(i))) == _sha(str(tmp_path / gen.tail_name(i)))
