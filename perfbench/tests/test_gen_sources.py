import csv
import filecmp
import os

import pytest

from gen_sources import CRM, ERP, HEADERS, ROWS, Sources


def _tree(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    )


def _read(root, rel):
    with open(os.path.join(root, rel), newline="") as fh:
        return list(csv.DictReader(fh))


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("seed7"))
    manifest = Sources(7).write(root)
    return root, manifest


def test_same_seed_gives_identical_files(base, tmp_path):
    root, _ = base
    again = str(tmp_path / "again")
    Sources(7).write(again)
    assert _tree(root) == _tree(again)
    _, mismatch, errors = filecmp.cmpfiles(root, again, _tree(root), shallow=False)
    assert mismatch == [] and errors == []


def test_other_seed_gives_other_files(base, tmp_path):
    root, _ = base
    other = str(tmp_path / "other")
    Sources(8).write(other)
    _, mismatch, _ = filecmp.cmpfiles(root, other, _tree(root), shallow=False)
    assert set(mismatch) >= {f"{CRM}/cust_info.csv", f"{CRM}/sales_details.csv"}


def test_row_counts_and_headers_match_the_reference(base):
    root, manifest = base
    assert manifest == ROWS
    assert sum(ROWS.values()) > 116_000
    for rel in ROWS:
        with open(os.path.join(root, rel)) as fh:
            assert fh.readline().rstrip("\n") == HEADERS[rel]
        assert len(_read(root, rel)) == ROWS[rel]


def test_every_defect_class_is_present(base):
    root, _ = base
    cust = _read(root, f"{CRM}/cust_info.csv")
    ids = [r["cst_id"] for r in cust if r["cst_id"]]
    assert len(ids) > len(set(ids)), "duplicate cst_id"
    assert any(not r["cst_id"] for r in cust), "NULL cst_id"
    assert any(r["cst_firstname"] != r["cst_firstname"].strip() for r in cust if r["cst_id"])
    assert any(r["cst_gndr"] == "" for r in cust), "blank gender"
    assert any(r["cst_marital_status"] == "" for r in cust if r["cst_id"])
    pairs = [(r["cst_id"], r["cst_create_date"]) for r in cust if r["cst_id"]]
    assert len(pairs) == len(set(pairs)), "duplicates must differ in create date"

    prd = _read(root, f"{CRM}/prd_info.csv")
    assert any(r["prd_end_dt"] and r["prd_end_dt"] < r["prd_start_dt"] for r in prd)
    assert any(r["prd_line"].endswith(" ") for r in prd), "padded codes"
    assert any(r["prd_line"] == "" for r in prd)
    assert any(r["prd_cost"] == "" for r in prd)

    sales = _read(root, f"{CRM}/sales_details.csv")
    assert any(r["sls_order_dt"] == "0" for r in sales), "yyyymmdd=0"
    assert any(len(r["sls_order_dt"]) not in (1, 8) for r in sales), "garbage dates"
    assert any(r["sls_sales"] == "" for r in sales)
    assert any(
        r["sls_sales"] and r["sls_price"]
        and int(r["sls_sales"]) != int(r["sls_quantity"]) * int(r["sls_price"])
        for r in sales
    )

    erp = _read(root, f"{ERP}/CUST_AZ12.csv")
    assert any(r["CID"].startswith("NAS") for r in erp)
    assert any(r["BDATE"] > "2030" for r in erp), "future birthdates"
    assert any(r["GEN"] != r["GEN"].strip() for r in erp)
    assert {"DE", "USA", ""} <= {r["CNTRY"] for r in _read(root, f"{ERP}/LOC_A101.csv")}


def test_deltas_are_seeded_new_and_recent(tmp_path):
    src = Sources(7)
    assert Sources(7).delta(0) == src.delta(0)
    assert src.delta(0) != src.delta(1)
    base_orders = {r[0] for r in src.files[f"{CRM}/sales_details.csv"]}
    d0, d1 = (src.delta(k)[f"{CRM}/sales_details.csv"] for k in (0, 1))
    assert not ({r[0] for r in d0} & base_orders)
    assert not ({r[0] for r in d0} & {r[0] for r in d1})
    latest = max(r[3] for r in src.files[f"{CRM}/sales_details.csv"])
    assert min(r[3] for r in d0) >= latest - 300  # within the last months
    manifest = src.write_combined(str(tmp_path), 2)
    assert manifest[f"{CRM}/sales_details.csv"] == ROWS[f"{CRM}/sales_details.csv"] + 2 * len(d0)
