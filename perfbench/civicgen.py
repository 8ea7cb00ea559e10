"""Seeded generator for the civic_ingest workload's source documents.

Writes, under one output directory:

  people/<id>.yml          OpenStates-style YAML roster (2 senators and
                           LOWER_PER_STATE representatives per state)
  batch_NNN/bill_*.json    per-file OCD bill documents: new bills plus
                           re-versions of earlier bills with appended actions
  batch_NNN/vote_event_*.json
                           vote events on this batch's or earlier bills, plus
                           orphans whose bill never exists; one vote per
                           chamber member, voter names in a seeded mix of forms
  truth.csv                event identifier, vote position, intended person id
  manifest.json            per-batch expectations the benchmark checks

The same seed gives byte-identical files; the generator reads no clock and no
environment.
"""
import json
import os
import random

STATES = [
    ("AL", "Alabama"), ("AK", "Alaska"), ("AZ", "Arizona"), ("AR", "Arkansas"),
    ("CA", "California"), ("CO", "Colorado"), ("CT", "Connecticut"),
    ("DE", "Delaware"), ("FL", "Florida"), ("GA", "Georgia"), ("HI", "Hawaii"),
    ("ID", "Idaho"), ("IL", "Illinois"), ("IN", "Indiana"), ("IA", "Iowa"),
    ("KS", "Kansas"), ("KY", "Kentucky"), ("LA", "Louisiana"), ("ME", "Maine"),
    ("MD", "Maryland"), ("MA", "Massachusetts"), ("MI", "Michigan"),
    ("MN", "Minnesota"), ("MS", "Mississippi"), ("MO", "Missouri"),
    ("MT", "Montana"), ("NE", "Nebraska"), ("NV", "Nevada"),
    ("NH", "New Hampshire"), ("NJ", "New Jersey"), ("NM", "New Mexico"),
    ("NY", "New York"), ("NC", "North Carolina"), ("ND", "North Dakota"),
    ("OH", "Ohio"), ("OK", "Oklahoma"), ("OR", "Oregon"),
    ("PA", "Pennsylvania"), ("RI", "Rhode Island"), ("SC", "South Carolina"),
    ("SD", "South Dakota"), ("TN", "Tennessee"), ("TX", "Texas"),
    ("UT", "Utah"), ("VT", "Vermont"), ("VA", "Virginia"),
    ("WA", "Washington"), ("WV", "West Virginia"), ("WI", "Wisconsin"),
    ("WY", "Wyoming"),
]

GIVEN = [
    "Abigail", "Benjamin", "Caroline", "Dominic", "Eleanor", "Frederick",
    "Gabriela", "Harrison", "Isabella", "Jonathan", "Katherine", "Leonardo",
    "Madeline", "Nathaniel", "Octavia", "Patricia", "Quentin", "Rosalind",
    "Sebastian", "Theodora", "Ulysses", "Veronica", "Winston", "Xavier",
    "Yolanda", "Zachary", "Marcus", "Juliana", "Raymond", "Priscilla",
]

FAMILY = [
    "Abernathy", "Blackwell", "Castellano", "Delacroix", "Easterbrook",
    "Fairweather", "Gallagher", "Hawthorne", "Ingersoll", "Jablonski",
    "Kowalczyk", "Lindqvist", "Montgomery", "Nakamura", "Oyelaran",
    "Pemberton", "Quisenberry", "Rutherford", "Satterfield", "Thornbury",
    "Underwood", "Vanderbilt", "Whitcombe", "Yarborough", "Zimmerman",
    "Ashworth", "Brennaman", "Chamberlain", "Drummond", "Ellsworth",
    "Fitzgerald", "Greenberg", "Hollingsworth", "Kingsbury", "Lancaster",
    "Marchetti", "Northcott", "Orlowski", "Prescott", "Rosenthal",
]

LOWER_PER_STATE = 4
JURISDICTION = "ocd-jurisdiction/country:us/government"
SESSION = "119"

# Per batch: new bills, re-versions of earlier bills, vote events, orphans.
NEW_BILLS = 8
REVERSIONS = 4
VOTE_EVENTS = 3
ORPHANS = 1

# Voter-name forms and their weights. "full" and "last_state" resolve in
# the exact pass; "full_nostate" and "last_nostate" take the unblocked
# path; the two typo forms carry one substitution and need the WRatio pass.
TYPO_MIN_LEN = 9
NAME_FORMS = [("full", 30), ("last_state", 40), ("full_nostate", 8),
              ("last_nostate", 6), ("typo_state", 10), ("typo_nostate", 6)]


def _dump(obj):
    return json.dumps(obj, sort_keys=True, indent=1) + "\n"


def _write(path, text):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)
    return len(text.encode("utf-8"))


def _roster(rng):
    people = []
    for st, state_name in STATES:
        # distinct family names within a state, so "Last (P-ST)" names one
        # person per chamber
        fams = rng.sample(FAMILY, 2 + LOWER_PER_STATE)
        seats = [("upper", state_name, None)] * 2 + [
            ("lower", "%s-%d" % (st, d), d) for d in range(1, LOWER_PER_STATE + 1)]
        upper_seen = 0
        for (chamber, district, dnum), fam in zip(seats, fams):
            if chamber == "upper":
                upper_seen += 1
                pid = "ocd-person/%s-sen-%d" % (st.lower(), upper_seen)
            else:
                pid = "ocd-person/%s-rep-%d" % (st.lower(), dnum)
            people.append({
                "id": pid, "given": rng.choice(GIVEN), "family": fam,
                "state": st, "chamber": chamber, "district": district,
                "party": rng.choice("DR"),
            })
    return people


def _person_yaml(p):
    return ("id: %s\nname: %s %s\ngiven_name: %s\nfamily_name: %s\n"
            "roles:\n  - type: %s\n    district: %s\n    jurisdiction: %s\n"
            "    start_date: '2023-01-03'\n    end_date: '2029-01-03'\n") % (
        p["id"], p["given"], p["family"], p["given"], p["family"],
        p["chamber"], p["district"], JURISDICTION)


def _typo(rng, word):
    # one substitution away from the start, so the token stays recognisable
    i = rng.randrange(2, len(word) - 1)
    c = rng.choice([ch for ch in "aeiourstnl" if ch != word[i].lower()])
    return word[:i] + c + word[i + 1:]


def _voter_name(rng, p, form):
    full = "%s %s" % (p["given"], p["family"])
    tag = " (%s-%s)" % (p["party"], p["state"])
    # WRatio scales a partial match by 0.9 once one name is 1.5x the
    # other, so a one-substitution family name shorter than TYPO_MIN_LEN
    # letters scores under the threshold of 80 against "First Last".
    # Such voters keep the untouched form: every generated vote resolves
    # to some person, and the read-back tallies are exact.
    if form.startswith("typo") and len(p["family"]) < TYPO_MIN_LEN:
        form = "last_state" if form == "typo_state" else "full_nostate"
    if form == "full":
        return full + tag
    if form == "last_state":
        return p["family"] + tag
    if form == "full_nostate":
        return full
    if form == "last_nostate":
        return p["family"]
    if form == "typo_state":
        return _typo(rng, p["family"]) + tag
    return "%s %s" % (p["given"], _typo(rng, p["family"]))


def _action(day, text):
    return {"date": "2025-%02d-%02d" % (1 + day // 28, 1 + day % 28),
            "description": text}


def _bill_doc(bill):
    return {
        "identifier": bill["identifier"],
        "title": bill["title"],
        "legislative_session": SESSION + "th",
        "from_organization": '~{"classification": "%s"}' % bill["chamber"],
        "actions": list(bill["actions"]),
    }


def generate(seed, out_dir, batches):
    """Write every input of a civic_ingest run for `seed` under `out_dir`
    and return the manifest (also written to manifest.json)."""
    rng = random.Random(seed)
    os.makedirs(os.path.join(out_dir, "people"))
    people = _roster(rng)
    for p in people:
        _write(os.path.join(out_dir, "people", p["id"].split("/")[1] + ".yml"),
               _person_yaml(p))
    by_chamber = {c: [p for p in people if p["chamber"] == c]
                  for c in ("upper", "lower")}
    forms = [f for f, _ in NAME_FORMS]
    weights = [w for _, w in NAME_FORMS]

    bills = []  # in creation order; dicts carry the latest version
    n_events = 0
    truth = ["event,pos,person_id\n"]
    manifest = {"seed": seed, "people": len(people), "batches": [],
                "states": [list(s) for s in STATES]}
    n_kept = 0  # vote events whose bill exists
    tallies = {}  # (bill identifier, chamber) -> [yes, no], cumulative
    for b in range(batches):
        bdir = os.path.join(out_dir, "batch_%03d" % b)
        os.makedirs(bdir)
        src_bytes = 0
        touched = []
        for k in range(NEW_BILLS):
            n = len(bills)
            chamber = rng.choice(("upper", "lower"))
            bill = {"identifier": "%s %d" % ("SB" if chamber == "upper" else "HB", 100 + n),
                    "title": "An Act concerning item %d" % n, "chamber": chamber,
                    "actions": [_action(rng.randrange(0, 40), "introduced")],
                    "version": 0}
            bills.append(bill)
            touched.append(bill)
        # re-versions favour recent bills: weight grows with creation index
        older = [x for x in bills[:-NEW_BILLS]] if b > 0 else []
        if older:
            picks = set()
            while len(picks) < min(REVERSIONS, len(older)):
                picks.add(rng.choices(range(len(older)),
                                      weights=range(1, len(older) + 1))[0])
            for i in sorted(picks):
                bill = older[i]
                last = bill["actions"][-1]["date"]
                day = (int(last[5:7]) - 1) * 28 + int(last[8:10]) - 1
                bill["actions"].append(_action(min(day + rng.randrange(1, 20), 335),
                                               "amended in committee"))
                bill["version"] += 1
                touched.append(bill)
        bill_files, event_files = [], []
        for bill in touched:
            name = "bill_%s_v%d.json" % (bill["identifier"].replace(" ", ""), bill["version"])
            src_bytes += _write(os.path.join(bdir, name), _dump(_bill_doc(bill)))
            bill_files.append([bill["identifier"], "batch_%03d/%s" % (b, name)])

        for k in range(VOTE_EVENTS + ORPHANS):
            orphan = k >= VOTE_EVENTS
            chamber = rng.choice(("upper", "lower"))
            if orphan:
                bill_ident = "XB %d" % (9000 + n_events)
            else:
                bill_ident = rng.choice(bills)["identifier"]
            ident = "roll-%05d" % n_events
            n_events += 1
            votes = []
            for pos, p in enumerate(by_chamber[chamber]):
                option = rng.choices(("yes", "no", "not voting"), (55, 40, 5))[0]
                form = rng.choices(forms, weights)[0]
                votes.append({"option": option,
                              "voter_name": _voter_name(rng, p, form),
                              "voter_id": "", "note": ""})
                if not orphan:
                    truth.append("%s,%d,%s\n" % (ident, pos, p["id"]))
                    if option in ("yes", "no"):
                        t = tallies.setdefault((bill_ident, chamber), [0, 0])
                        t[0 if option == "yes" else 1] += 1
            doc = {"identifier": ident, "legislative_session": SESSION,
                   "motion_text": "passage", "start_date": "2025-06-01T12:00:00+00:00",
                   "result": "pass", "bill": '~{"identifier": "%s"}' % bill_ident,
                   "organization": '~{"classification": "%s"}' % chamber,
                   "votes": votes}
            name = "vote_event_%s.json" % ident
            src_bytes += _write(os.path.join(bdir, name), _dump(doc))
            event_files.append("batch_%03d/%s" % (b, name))
            n_kept += not orphan
        manifest["batches"].append({
            "dir": "batch_%03d" % b,
            "docs": len(touched) + VOTE_EVENTS + ORPHANS,
            "source_bytes": src_bytes,
            "bills_total": len(bills),
            "vote_events_total": n_kept,
            "bill_identifiers": sorted(x["identifier"] for x in touched),
            # the batch read-back's expected rows: cumulative tallies of
            # every bill this batch touched
            "tallies": sorted([i, c, y, n] for (i, c), (y, n) in tallies.items()
                              if i in {x["identifier"] for x in touched}),
            # what a one-shot ingest of batches 0..b reads: the latest file
            # of each bill, and every vote event
            "bill_files": bill_files,
            "event_files": event_files,
        })
    _write(os.path.join(out_dir, "truth.csv"), "".join(truth))
    _write(os.path.join(out_dir, "manifest.json"), _dump(manifest))
    return manifest
