#!/usr/bin/env python3
"""Small-size test of the benchmark's seeded input generators:

    python3 perfbench/test_gen.py

Checks that a seed fully determines the inputs, that the retail CSVs carry
every planted dirty-data quirk of the reference data (SURVEY.md Appendix A),
and that `RetailIngest`, run by the benchmark driver on small generated
sets, produces exactly the generator's own expectations. Exits 1 on the
first failure.
"""
import filecmp
import os
import re
import shutil

import gen
import run

WORK = os.path.join(run.TARGET, "work", "test-gen")

# (what, file, pattern) for each planted quirk
QUIRKS = [
    ("$-suffixed price", "products_data.csv", r",\d+\.\d\d\$,"),
    ("garbage price", "products_data.csv", r",abc\$,"),
    ("negative price", "products_data.csv", r",-\d+\.\d\d\$,"),
    ("price without $", "products_data.csv", r",\d+\.\d\d,\d"),
    ("quoted comma", "products_data.csv", r'"Supplier \d+, Inc\."'),
    ("empty key field", "products_data.csv", r"^\d+,,"),
    ("padded fields", "products_data.csv", r"^ \d+ ,  Product"),
    ("51,Pakistan row", "products_data.csv",
     r"^101,Red Tomatoes,1899\.99\$,51,Pakistan,51,Pakistan$"),
    ("timestamp date", "transactions.csv", r"^\d+,\d{4}-\d\d-\d\d \d\d:\d\d:\d\d,"),
    ("yyyy-MM-dd date", "transactions.csv", r"^\d+,\d{4}-\d\d-\d\d,"),
    ("MM/dd/yyyy date", "transactions.csv", r"^\d+,\d\d/\d\d/\d{4},"),
    ("dd-MM-yyyy date", "transactions.csv", r"^\d+,\d\d-\d\d-\d{4},"),
    ("yyyy/MM/dd date", "transactions.csv", r"^\d+,\d{4}/\d\d/\d\d,"),
    ("1819 outlier", "transactions.csv", r"^\d+,1819-"),
    ("garbage date", "transactions.csv", r"^\d+,not-a-date,"),
    ("negative quantity", "transactions.csv", r"^[^,]+,[^,]+,\d+,-\d+,"),
    ("garbage quantity", "transactions.csv", r"^[^,]+,[^,]+,\d+,xyz,"),
    ("quoted customer name", "customers_data.csv", r'^\d+,"Last\d+, First v\d+"'),
]


def check(ok, what):
    if not ok:
        run.fail(f"test_gen: {what}")


def read(d, f):
    with open(os.path.join(d, f)) as fh:
        return fh.read()


def duplicate_keys(text, col):
    keys = [line.split(",")[col] for line in text.splitlines()[1:]]
    return len(keys) - len(set(keys))


def same_files(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and \
        all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    d = {k: os.path.join(WORK, k) for k in ("a", "b", "c", "oa", "ob", "oc")}

    # a seed fully determines the inputs, and another seed changes them
    gen.olap(d["oa"], 5, 0.001)
    gen.olap(d["ob"], 5, 0.001)
    gen.olap(d["oc"], 6, 0.001)
    check(same_files(d["oa"], d["ob"]), "olap inputs differ for one seed")
    check(not same_files(d["oa"], d["oc"]), "olap inputs equal for two seeds")
    expect = gen.retail(d["a"], 5, 4000, 3000)
    check(gen.retail(d["b"], 5, 4000, 3000) == expect, "retail expectations differ for one seed")
    check(same_files(d["a"], d["b"]), "retail inputs differ for one seed")
    gen.retail(d["c"], 6, 4000, 3000)
    check(not same_files(d["a"], d["c"]), "retail inputs equal for two seeds")

    for what, f, pattern in QUIRKS:
        check(re.search(pattern, read(d["a"], f), re.M), f"no {what} in {f}")
    check(duplicate_keys(read(d["a"], "transactions.csv"), 0) > 0, "no duplicate ORDER_ID")
    check(duplicate_keys(read(d["a"], "customers_data.csv"), 0) > 0, "no duplicate customer id")
    check(expect["scd2_versions"] > gen.N_CUSTOMERS, "no customer changes a version")

    # RetailIngest on small sets against the independent expectations
    run.build()
    for seed in (5, 6, 7):
        data = os.path.join(WORK, f"etl{seed}")
        expect = gen.retail(data, seed, 4000, 3000)
        report = run.run_jvm("retail-etl", data, os.path.join(WORK, f"run{seed}"),
                             seed, 0, 0, 2)
        wrong, failed, _ = run.check_retail(expect, report)
        check(not wrong and failed == 0 and report["failed"] == 0,
              f"seed {seed}: ETL outputs differ from the generator's: {wrong}")
    shutil.rmtree(WORK, ignore_errors=True)
    print("test_gen: ok")


if __name__ == "__main__":
    main()
