"""Seeded DonorsChoose-shaped CSV inputs for the `donations_csv` workload.

The columns and header names are those `graft.sources.CsvSource` reads. The
donor table is large enough that Spark shuffles both join sides instead of
broadcasting the donors, as at the reference's design point.
The data exercises the reference's paths: about 20 % of donations go to a
few Pareto-hot donors (its skew roll-over), 52 state values including
`other`, and a few empty amounts (its empty -> 0.0 rule). Amounts are whole
cents, so the expected per-state totals are exact integers.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv

DONORS = 400_000
DONATIONS = 700_000
HOT_SHARE = 0.2
HOT_DONORS = 500
EMPTY_AMOUNTS = 25

STATES = [
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Connecticut", "Delaware", "District of Columbia", "Florida", "Georgia",
    "Hawaii", "Idaho", "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky",
    "Louisiana", "Maine", "Maryland", "Massachusetts", "Michigan", "Minnesota",
    "Mississippi", "Missouri", "Montana", "Nebraska", "Nevada", "New Hampshire",
    "New Jersey", "New Mexico", "New York", "North Carolina", "North Dakota",
    "Ohio", "Oklahoma", "Oregon", "Pennsylvania", "Rhode Island",
    "South Carolina", "South Dakota", "Tennessee", "Texas", "Utah", "Vermont",
    "Virginia", "Washington", "West Virginia", "Wisconsin", "Wyoming", "other",
]
CITIES = ["Springfield", "Riverside", "Franklin", "Greenville", "Bristol",
          "Clinton", "Fairview", "Salem", "Madison", "Georgetown"]


def hex_ids(rng, n):
    """n random 32-hex-character ids, like the DonorsChoose keys."""
    text = rng.bytes(16 * n).hex().encode("ascii")
    return pa.array(np.frombuffer(text, dtype="S32")).cast(pa.string())


def write_csv(table, path):
    """Unquoted CSV with a plain header line, as the reference reads it."""
    with open(path, "wb") as f:
        f.write((",".join(table.column_names) + "\n").encode())
        pcsv.write_csv(table, f, pcsv.WriteOptions(include_header=False, quoting_style="none"))


def generate(seed, out_dir, donors=DONORS, donations=DONATIONS):
    """Writes donors.csv, donations.csv, warmup_donors.csv and expected.json
    under out_dir; returns the expected record."""
    rng = np.random.default_rng(seed)
    donor_ids = hex_ids(rng, donors)
    donor_state = rng.integers(0, len(STATES), size=donors)

    hot = rng.choice(donors, size=HOT_DONORS, replace=False)
    hot_weights = rng.pareto(1.2, size=HOT_DONORS) + 1.0
    is_hot = rng.random(donations) < HOT_SHARE
    who = rng.integers(0, donors, size=donations)
    who[is_hot] = rng.choice(hot, size=int(is_hot.sum()), p=hot_weights / hot_weights.sum())

    cents = rng.integers(100, 50_000, size=donations)
    empty = rng.choice(donations, size=EMPTY_AMOUNTS, replace=False)
    cents[empty] = 0
    amount = pa.array(cents / 100.0, mask=np.isin(np.arange(donations), empty))

    os.makedirs(out_dir, exist_ok=True)
    states = np.array(STATES, dtype=object)
    donor_table = pa.table({
        "Donor ID": donor_ids,
        "Donor City": np.array(CITIES, dtype=object)[rng.integers(0, len(CITIES), size=donors)],
        "Donor State": states[donor_state],
        "Donor Is Teacher": np.where(rng.random(donors) < 0.3, "Yes", "No"),
        "Donor Zip": rng.integers(100, 1000, size=donors).astype(str),
    })
    donation_table = pa.table({
        "Project ID": hex_ids(rng, donations),
        "Donation ID": hex_ids(rng, donations),
        "Donor ID": donor_ids.take(who),
        "Donation Included Optional Donation": np.where(rng.random(donations) < 0.8, "Yes", "No"),
        "Donation Amount": amount,
        "Donor Cart Sequence": rng.integers(1, 50, size=donations),
    })
    write_csv(donor_table, os.path.join(out_dir, "donors.csv"))
    write_csv(donation_table, os.path.join(out_dir, "donations.csv"))
    write_csv(donor_table.slice(0, 1000), os.path.join(out_dir, "warmup_donors.csv"))

    by_state = donor_state[who]
    totals = np.bincount(by_state, weights=cents, minlength=len(STATES))
    counts = np.bincount(by_state, minlength=len(STATES))
    expected = {
        "seed": seed, "donors": donors, "donations": donations,
        "hot_donations": int(is_hot.sum()),
        "state_cents": {s: int(round(t)) for s, t, c in zip(STATES, totals, counts) if c > 0},
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


def _csv_parts(path):
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".csv"))


def check_by_state(out_dir, expected):
    """The result CSV matches the exact per-state totals within one cent."""
    table = pcsv.read_csv(_csv_parts(os.path.join(out_dir, "by_state"))[0],
                          convert_options=pcsv.ConvertOptions(column_types={
                              "State": pa.string(), "Total Donation Amount": pa.string()}))
    got = dict(zip(table.column("State").to_pylist(),
                   table.column("Total Donation Amount").to_pylist()))
    want = expected["state_cents"]
    if set(got) != set(want):
        return f"states differ: {sorted(set(got) ^ set(want))[:5]}"
    off = [s for s in want if abs(round(float(got[s]) * 100) - want[s]) > 1]
    return f"totals off by more than a cent: {off[:5]}" if off else None


def check_chunks(out_dir, expected):
    """Every row is exported once, and donor-key ranges are disjoint across
    the chunk files of each side (the reference's cutoff property)."""
    for side, rows in (("donation_chunks", expected["donations"]), ("donor_chunks", expected["donors"])):
        ranges, n = [], 0
        for part in _csv_parts(os.path.join(out_dir, side)):
            ids = pcsv.read_csv(part, convert_options=pcsv.ConvertOptions(
                include_columns=["Donor ID"], column_types={"Donor ID": pa.string()})).column("Donor ID")
            n += len(ids)
            if len(ids):
                mm = pc.min_max(ids)
                ranges.append((mm["min"].as_py(), mm["max"].as_py()))
        if n != rows:
            return f"{side}: {n} rows, expected {rows}"
        ranges.sort()
        if any(a[1] >= b[0] for a, b in zip(ranges, ranges[1:])):
            return f"{side}: donor-key ranges overlap across files"
    return None
