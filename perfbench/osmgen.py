#!/usr/bin/env python3
"""Seeded generator for the osm_etl workload's inputs.

Writes an OSM v0.6 extract (SHARDS well-formed files, each with nodes then
ways then relations, ids ascending across the shards) plus a
PSI-format official street-name list, and returns the counts the engine's
pipeline must reproduce on them. Every expected count is known by
construction: each street way, phone tag and official row is planted from a
category whose outcome under the pipeline's fix rules is fixed.

Street-way categories (official list = the cleaned PSI rows):
  ok          full bilingual triple matching one official row: no fix
  en_typo     name:en abbreviated (not found), others match: en overwritten
  only_zh     only name:zh present: name:en and name appended
  only_reg    only the combined `name`: name:en and name:zh appended
  no_reg      name:en + name:zh, no combined name: name appended
  conflict    versions match two different official rows: no fix
  unofficial  names absent from the list: no fix
  psi_clash   names whose English form appears twice in the PSI with
              different Chinese (removed by the conflict filter): no fix

Phone formats are the FIXTURES.md section-4 vectors with fresh digits; a
phone-key tag counts as a fix only when it is the element's LAST phone-key
tag (the reference's last-writer-wins flag), so some elements carry a
trailing `source=survey` that masks an earlier change.

Densities follow the paper's published workload where it counts them, so
the fix layers see the paper's mix (see the constants below). Cases that no
published count covers are planted COVER times each at the start of the
input and not again.

Usage: python3 osmgen.py <seed> <outDir> [nodes]
"""
import json
import random
import sys
from pathlib import Path
from xml.sax.saxutils import quoteattr, escape

SHARDS = 4
DEFAULT_NODES = 120_000
COVER = 2  # plantings of each case that no published count covers

# Sources: "p.N" is case_study_osm.pdf page N as quoted in BASELINE.md;
# "F1"/"F2" are the measured counts of the reference's shatin.osm sample and
# PSI street list in FIXTURES.md sections 1 and 2. F1's key counts are over
# nodes and ways together; they are read here as shares of one of them.
PAPER_NODES, PAPER_WAYS = 1_419_739, 161_676                  # p.8
WAYS_PER_NODE = PAPER_WAYS / PAPER_NODES                      # p.8
ND_PER_WAY = 16_547 / 1_958                                   # F1: nd / ways
RELATIONS_PER_WAY = 242 / 1_958                               # F1
MEMBERS_PER_RELATION = 10_094 / 242                           # F1
STREET_PER_WAY = 1_312 / 1_958           # F1: `highway` key count / ways
NAMED_STREET_SHARE = 918 / 1_312         # F1: `name:zh` / `highway` counts
NAMED_BLDG_PER_WAY = 17_201 / PAPER_WAYS     # p.12: named bldgs/amenities
UNNAMED_BLDG_PER_WAY = 3_224 / PAPER_WAYS    # p.12: unnamed ones
ADDR_PER_NODE = 353 / 13_676             # F1: `addr:housenumber` / nodes
# p.7: nodes_tags.csv is 7 MB against nodes.csv's 112 MB; at the generated
# rows' widths (~38 and ~79 bytes) that is 0.13 tag rows per node. Named
# POIs (4 tags each) carry what the address nodes (2 tags) leave.
NODE_TAGS_PER_NODE = 7 / 112 * 79 / 38
POI_PER_NODE = (NODE_TAGS_PER_NODE - 2 * ADDR_PER_NODE) / 4
NAME_FIXES_PER_WAY = 484 / PAPER_WAYS                         # p.8
PHONE_FIXES_PER_ELEMENT = 439 / (PAPER_NODES + PAPER_WAYS)    # p.8
PSI_NULL_ZH = 17 / 4_510                 # F2: null Chinese names
PSI_DUPLICATE = 13 / 4_493               # F2: exact duplicates
PSI_CLASH = 49 / 4_480                   # F2: removed by the conflict filter

# PhoneFix.PhoneKeys: keys whose values the pipeline canonicalizes
PHONE_KEYS = {"phone", "fax", "whatsapp", "mobile", "telephone", "operator",
              "source"}
STREET_VALUES = ["residential", "primary", "secondary", "tertiary", "trunk",
                 "living_street", "pedestrian", "road", "track", "path",
                 "steps", "motorway"]
SYLLABLES = ["kung", "kok", "wan", "chai", "sha", "tin", "lok", "fu", "ma",
             "on", "tai", "po", "shek", "mun", "yuen", "long", "hang", "hau",
             "ngau", "tau", "wong", "pak", "lam", "kwai", "chung", "tsuen",
             "sai", "kowloon", "hung", "hom", "yau", "tong", "lei", "cheung"]
SUFFIXES = [("Street", "St", "街"), ("Road", "Rd", "路"),
            ("Avenue", "Ave", "道"), ("Lane", "Ln", "里")]
HANZI = ("亞公角沙田大埔石門元朗青衣荃灣葵涌西貢將軍澳旺角油麻地尖沙咀紅磡"
         "九龍塘深水埗長沙灣觀塘黃大仙鑽石山牛頭秀茂坪柴灣筲箕灣北角銅鑼"
         "跑馬地薄扶林香港仔鴨脷洲赤柱淺水灣屯門天水圍上水粉嶺馬鞍山火炭")
FIX_CATEGORIES = ["en_typo", "only_zh", "only_reg", "no_reg"]
STREET_CATEGORIES = ["ok", *FIX_CATEGORIES, "conflict", "unofficial",
                     "psi_clash"]
PROBLEM_KEYS = ["odd=key", "note two", "fixme?"]


def _digits(rng, n):
    return "".join(rng.choice("0123456789") for _ in range(n))


def phone_value(rng, fmt):
    """One phone value in FIXTURES.md section-4 format `fmt`, and whether
    the pipeline's canonicalization changes it."""
    d = lambda n: _digits(rng, n)
    cell = lambda: "1" + rng.choice("3456789") + d(9)
    formats = {
        "hk_plain": (lambda: f"{d(4)} {d(4)}", True),
        "hk_spaced_cc": (lambda: f"+ 852 {d(4)} {d(4)}", True),
        "hk_joined_cc": (lambda: f"+852{d(8)}", True),
        "hk_paren_cc": (lambda: f"(+852) {d(4)} {d(4)}", True),
        "hk_dashed": (lambda: f"852-{d(4)}-{d(4)}", True),
        "hk_split_cc": (lambda: f"+85 2{d(1)} {d(2)} {d(5)}", True),
        "hk_multi": (lambda: ", ".join(f"+852 {d(8)}" for _ in range(3)),
                     True),
        "prc_cell_cc": (lambda: f"+86{cell()}", True),
        "prc_cell": (lambda: cell(), True),
        "sz_land_cc": (lambda: f"+86 0755-{d(8)}", True),
        "sz_land": (lambda: f"0755 {d(4)} {d(4)}", True),
        "foreign": (lambda: f"+41 {d(2)} {d(3)} {d(2)} {d(2)}", False),
        "canonical": (lambda: f"+852 {d(8)}", False),
    }
    make, changed = formats[fmt]
    return make(), changed


PHONE_FORMATS = ["hk_plain", "hk_spaced_cc", "hk_joined_cc", "hk_paren_cc",
                 "hk_dashed", "hk_split_cc", "hk_multi", "prc_cell_cc",
                 "prc_cell", "sz_land_cc", "sz_land", "foreign", "canonical"]


# phone-carrying elements per element: a carrier's last phone tag has one
# of the 11 changing formats out of 13, so this gives p.8's fix rate
PHONE_CARRIERS_PER_ELEMENT = PHONE_FIXES_PER_ELEMENT * 13 / 11
# named streets that carry a fixable name; the fix categories share it
NAME_FIX_SHARE = NAME_FIXES_PER_WAY / (STREET_PER_WAY * NAMED_STREET_SHARE)


class Gen:
    def __init__(self, seed, n_nodes):
        self.rng = random.Random(seed)
        self.n_nodes = n_nodes
        self.users = [(f"mapper_{i:04d}", 1000 + i * 7) for i in range(400)]
        self.uid_of = {}  # (kind, id) -> uid
        self.phone_chars = set()
        self.n_phone_tags = {"phone": 0, "fax": 0}
        self.fix_phone = {"node": 0, "way": 0}
        self.fix_name = 0
        self.fixed_elems = []  # (kind, id) with an update_history row
        self.n_phones = 0
        self.n_carriers = 0
        self.phone_formats = {}
        self.names_used = set()
        # the first nodes and ways plant the cases that need coverage: every
        # phone format, every street category, problem keys, way phones
        self.node_cover = (["poi_phone"] * len(PHONE_FORMATS) +
                           ["problem"] * COVER)[::-1]
        self.way_cover = ([f"street:{c}" for c in STREET_CATEGORIES] * COVER
                          + ["named_bldg_phone", "problem"] * COVER)[::-1]

    # ---- names --------------------------------------------------------
    def street_name(self):
        while True:
            words = [self.rng.choice(SYLLABLES).capitalize()
                     for _ in range(self.rng.randint(2, 3))]
            suf = self.rng.choice(SUFFIXES)
            eng = " ".join(words) + " " + suf[0]
            abbr = " ".join(words) + " " + suf[1]
            chi = "".join(self.rng.choice(HANZI)
                          for _ in range(self.rng.randint(2, 4))) + suf[2]
            if eng not in self.names_used and chi not in self.names_used:
                self.names_used.update((eng, chi))
                return eng, abbr, chi

    # ---- element attributes --------------------------------------------
    def attrs(self, kind, eid):
        user, uid = self.rng.choice(self.users)
        self.uid_of[(kind, eid)] = uid
        ts = (f"20{self.rng.randint(10, 17)}-{self.rng.randint(1, 12):02d}-"
              f"{self.rng.randint(1, 28):02d}T{self.rng.randint(0, 23):02d}:"
              f"{self.rng.randint(0, 59):02d}:{self.rng.randint(0, 59):02d}Z")
        return (f'id="{eid}" visible="true" version="{self.rng.randint(1, 9)}"'
                f' changeset="{self.rng.randint(10**6, 6 * 10**7)}"'
                f' timestamp="{ts}" user="{user}" uid="{uid}"')

    def phone_tags(self):
        """Phone-key tags of one phone-carrying element; returns (tags,
        element_flag). The first COVER carriers have a phone and a fax
        number masked by a trailing `source=survey` (last writer wins), the
        next COVER both numbers unmasked, the rest one phone number."""
        carrier = self.n_carriers
        self.n_carriers += 1
        tags, last_changed = [], None
        for key in (["phone", "fax"] if carrier < 2 * COVER else ["phone"]):
            # the first values cycle through every format, so even a small
            # input covers each one
            fmt = (PHONE_FORMATS[self.n_phones] if self.n_phones <
                   len(PHONE_FORMATS) else self.rng.choice(PHONE_FORMATS))
            self.n_phones += 1
            self.phone_formats[fmt] = self.phone_formats.get(fmt, 0) + 1
            value, changed = phone_value(self.rng, fmt)
            tags.append((key, value))
            self.n_phone_tags[key] += 1
            self.phone_chars.update(value)
            last_changed = changed
        if carrier < COVER:
            tags.append(("source", "survey"))
            last_changed = False
        return tags, last_changed

    # ---- XML -----------------------------------------------------------
    @staticmethod
    def tag_xml(tags):
        return "".join(f"\n  <tag k={quoteattr(k)} v={quoteattr(v)}/>"
                       for k, v in tags)

    def node(self, nid):
        lat = 22.2 + self.rng.random() * 0.35
        lon = 113.85 + self.rng.random() * 0.45
        head = f' <node {self.attrs("node", nid)} lat="{lat:.7f}" lon="{lon:.7f}"'
        if self.node_cover:
            kind = self.node_cover.pop()
        else:
            r = self.rng.random()
            kind = ("poi" if r < POI_PER_NODE else
                    "addr" if r < POI_PER_NODE + ADDR_PER_NODE else None)
        tags, phone_flag = [], None
        if kind in ("poi", "poi_phone"):
            eng, _, chi = self.street_name()
            tags = [("amenity", self.rng.choice(["restaurant", "bank",
                                                 "school", "clinic"])),
                    ("name", f"{chi} {eng}"), ("name:en", eng),
                    ("name:zh", chi)]
            if (kind == "poi_phone" or self.rng.random() <
                    PHONE_CARRIERS_PER_ELEMENT / POI_PER_NODE):
                pt, phone_flag = self.phone_tags()
                tags += pt
        elif kind == "addr":
            tags = [("addr:housenumber", str(self.rng.randint(1, 300))),
                    ("addr:street", self.street_name()[0])]
        elif kind == "problem":
            tags = [(self.rng.choice(PROBLEM_KEYS), "x"), ("created_by", "gen")]
        self.ntags += sum(1 for k, _ in tags if k not in PROBLEM_KEYS)
        if phone_flag:
            self.fix_phone["node"] += 1
            self.fixed_elems.append(("node", nid))
        if not tags:
            return head + "/>\n"
        return head + ">" + self.tag_xml(tags) + "\n </node>\n"

    def street_tags(self, cat):
        """Tags of one street way of category `cat`; returns (tags,
        appended_tag_count, name_fixed)."""
        hw = ("highway", self.rng.choice(STREET_VALUES))
        if cat in ("unofficial",):
            eng, abbr, chi = self.street_name()
            return [hw, ("name", f"{chi} {eng}"), ("name:en", eng),
                    ("name:zh", chi)], 0, False
        if cat == "psi_clash":
            eng, abbr, chi = self.street_name()
            chi2 = self.street_name()[2]
            self.psi_rows += [(eng, chi), (eng, chi2)]
            return [hw, ("name", f"{chi} {eng}"), ("name:en", eng),
                    ("name:zh", chi)], 0, False
        if cat == "conflict":
            a, b = self.street_name(), self.street_name()
            self.psi_rows += [(a[0], a[2]), (b[0], b[2])]
            return [hw, ("name", f"{a[2]} {a[0]}"), ("name:en", a[0]),
                    ("name:zh", b[2])], 0, False
        eng, abbr, chi = self.street_name()
        self.psi_rows.append((eng, chi))
        if cat == "ok":
            return [hw, ("name", f"{chi} {eng}"), ("name:en", eng),
                    ("name:zh", chi)], 0, False
        if cat == "en_typo":
            return [hw, ("name", f"{chi} {eng}"), ("name:en", abbr),
                    ("name:zh", chi)], 0, True
        if cat == "only_zh":
            return [hw, ("name:zh", chi)], 2, True
        if cat == "only_reg":
            return [hw, ("name", f"{chi} {eng}")], 2, True
        if cat == "no_reg":
            return [hw, ("name:en", eng), ("name:zh", chi)], 1, True
        raise ValueError(cat)

    def street_category(self):
        """Category of a named street past the coverage plantings."""
        r = self.rng.random()
        if r < NAME_FIX_SHARE:
            return self.rng.choice(FIX_CATEGORIES)
        return "psi_clash" if r < NAME_FIX_SHARE + PSI_CLASH else "ok"

    def way(self, wid, node_ids):
        head = f' <way {self.attrs("way", wid)}>'
        n = self.rng.randint(2, round(2 * ND_PER_WAY) - 2)
        start = self.rng.randrange(len(node_ids) - n)
        refs = node_ids[start:start + n]
        self.n_way_nodes += n
        if self.way_cover:
            kind = self.way_cover.pop()
        else:
            r = self.rng.random()
            kind = ("street" if r < STREET_PER_WAY else
                    "named_bldg" if r < STREET_PER_WAY + NAMED_BLDG_PER_WAY
                    else "unnamed_bldg" if r < STREET_PER_WAY +
                    NAMED_BLDG_PER_WAY + UNNAMED_BLDG_PER_WAY else None)
        tags, appended, name_fixed, phone_flag = [], 0, False, None
        if kind == "street" and self.rng.random() >= NAMED_STREET_SHARE:
            tags = [("highway", self.rng.choice(STREET_VALUES))]
        elif kind is not None and kind.startswith("street"):
            cat = (kind.split(":")[1] if ":" in kind
                   else self.street_category())
            tags, appended, name_fixed = self.street_tags(cat)
            self.street_cats[cat] = self.street_cats.get(cat, 0) + 1
        elif kind in ("named_bldg", "named_bldg_phone"):
            eng, _, chi = self.street_name()
            tags = [("building", self.rng.choice(["yes", "residential",
                                                  "commercial"])),
                    ("name", f"{chi} {eng}"), ("name:en", eng)]
            self.named_bldg += 1
            if (kind == "named_bldg_phone" or self.rng.random() <
                    PHONE_CARRIERS_PER_ELEMENT / NAMED_BLDG_PER_WAY):
                pt, phone_flag = self.phone_tags()
                tags += pt
        elif kind == "unnamed_bldg":
            # a bare building, or an amenity named only in Chinese (the
            # explore query counts `name` keys alone)
            tags = ([("building", "yes")] if self.rng.random() < 0.5 else
                    [("amenity", self.rng.choice(["parking", "school"])),
                     ("name:zh", self.street_name()[2])])
            self.unnamed_bldg += 1
        elif kind == "problem":
            tags = [("landuse", "grass"), (self.rng.choice(PROBLEM_KEYS), "y")]
        self.wtags += sum(1 for k, _ in tags if k not in PROBLEM_KEYS)
        self.wtags += appended
        if phone_flag:
            self.fix_phone["way"] += 1
            self.fixed_elems.append(("way", wid))
        if name_fixed:
            self.fix_name += 1
            self.fixed_elems.append(("way", wid))
        nds = "".join(f'\n  <nd ref="{ref}"/>' for ref in refs)
        return head + nds + self.tag_xml(tags) + "\n </way>\n"

    def relation(self, rid, node_ids, way_ids):
        members = []
        for _ in range(self.rng.randint(1, round(2 * MEMBERS_PER_RELATION)
                                        - 1)):
            if self.rng.random() < 0.7:
                members.append(("way", self.rng.choice(way_ids),
                                self.rng.choice(["outer", "inner", ""])))
            else:
                members.append(("node", self.rng.choice(node_ids), "stop"))
        self.n_members += len(members)
        body = "".join(f'\n  <member type="{t}" ref="{r}" role="{ro}"/>'
                       for t, r, ro in members)
        tags = [("type", self.rng.choice(["multipolygon", "route"]))]
        return (f' <relation {self.attrs("relation", rid)}>' + body +
                self.tag_xml(tags) + "\n </relation>\n")

    def psi_xml(self):
        rows = list(self.psi_rows)
        noise = []
        for _ in range(max(1, round(len(rows) * PSI_NULL_ZH))):
            noise.append((self.street_name()[0], None))  # filtered out
        for eng, chi in self.rng.sample(
                rows, max(1, round(len(rows) * PSI_DUPLICATE))):
            noise.append((eng, chi))  # exact duplicates: deduped
        rows += noise
        self.rng.shuffle(rows)
        out = ['<?xml version="1.0" encoding="UTF-8"?>\n<Root>\n']
        for i, (eng, chi) in enumerate(rows):
            chi_xml = (f"<Chinese_Street_Name>{escape(chi)}</Chinese_Street_Name>"
                       if chi else "<Chinese_Street_Name/>")
            district = ("" if i == 0 else
                        f"<District_Code>{self.rng.choice(['ST', 'TP', 'YL', 'KC'])}"
                        "</District_Code>")
            out.append(f"  <Row>\n    <English_Street_Name>{escape(eng.upper())}"
                       f"</English_Street_Name>\n    {chi_xml}\n    {district}\n"
                       "  </Row>\n")
        out.append("</Root>\n")
        return "".join(out)

    def run(self, out_dir):
        out = Path(out_dir)
        (out / "osm").mkdir(parents=True, exist_ok=True)
        self.ntags = self.wtags = self.n_way_nodes = self.n_members = 0
        self.named_bldg = self.unnamed_bldg = 0
        self.street_cats = {}
        self.psi_rows = []
        nid = 2_000_000_000
        node_ids = []
        for _ in range(self.n_nodes):
            nid += self.rng.randint(1, 3)
            node_ids.append(nid)
        n_ways = round(self.n_nodes * WAYS_PER_NODE)
        wid = 300_000_000
        way_ids = []
        for _ in range(n_ways):
            wid += self.rng.randint(1, 3)
            way_ids.append(wid)
        rel_ids = [9_000_000 + 2 * i for i in
                   range(max(1, round(n_ways * RELATIONS_PER_WAY)))]
        def part(ids, s):
            per = -(-len(ids) // SHARDS)
            return ids[s * per:(s + 1) * per]
        # shard s holds the s-th slice of the nodes, then of the ways, then
        # of the relations: every file is balanced and well-formed
        bodies = [[self.node(i) for i in part(node_ids, s)]
                  for s in range(SHARDS)]
        for s in range(SHARDS):
            bodies[s] += [self.way(i, node_ids) for i in part(way_ids, s)]
        for s in range(SHARDS):
            bodies[s] += [self.relation(i, node_ids, way_ids)
                          for i in part(rel_ids, s)]
        in_bytes = 0
        for s in range(SHARDS):
            body = "".join(bodies[s])
            text = ('<?xml version="1.0" encoding="UTF-8"?>\n'
                    '<osm version="0.6" generator="perfbench-osmgen">\n'
                    ' <bounds minlat="22.2" minlon="113.85" maxlat="22.55"'
                    ' maxlon="114.3"/>\n' + body + "</osm>\n")
            data = text.encode("utf-8")
            (out / "osm" / f"part-{s:02d}.osm").write_bytes(data)
            in_bytes += len(data)
        (out / "psi.xml").write_bytes(self.psi_xml().encode("utf-8"))
        fixed_uids = {self.uid_of[e] for e in set(self.fixed_elems)}
        n_phone = self.fix_phone["node"] + self.fix_phone["way"]
        expected = {
            "input_bytes": in_bytes,
            "nodes": len(node_ids), "ways": len(way_ids),
            "relations": len(rel_ids), "members": self.n_members,
            "way_nodes": self.n_way_nodes,
            "nodes_tags": self.ntags, "ways_tags": self.wtags,
            "update_history": n_phone + self.fix_name,
            "fixes_phone": n_phone, "fixes_name": self.fix_name,
            "street_categories": dict(sorted(self.street_cats.items())),
            "phone_formats": dict(sorted(self.phone_formats.items())),
            "explore": {
                "ways_count": len(way_ids), "nodes_count": len(node_ids),
                "distinct_users": len({u for (k, _), u in self.uid_of.items()
                                       if k != "relation"}),
                "name_updates": self.fix_name,
                "phone_updates": n_phone,
                "updated_users_vs_contributions": len(fixed_uids),
                "named_buildings_amenities": self.named_bldg,
                "unnamed_buildings_amenities": self.unnamed_bldg,
            },
            "audits": {
                "phone_audit": sum(self.n_phone_tags.values()),
                "phone_key_counts": sum(1 for v in self.n_phone_tags.values()
                                        if v),
                "phone_char_census": len(self.phone_chars),
                "street_audit": sum(self.street_cats.get(c, 0) for c in
                                    ("en_typo", "only_zh", "only_reg",
                                     "no_reg")),
            },
        }
        (out / "expected.json").write_text(json.dumps(expected, indent=1,
                                                      sort_keys=True))
        return expected


def generate(seed, out_dir, n_nodes=DEFAULT_NODES):
    return Gen(seed, n_nodes).run(out_dir)


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    exp = generate(int(sys.argv[1]), sys.argv[2],
                   int(sys.argv[3]) if len(sys.argv) == 4 else DEFAULT_NODES)
    print(json.dumps({k: v for k, v in exp.items() if not isinstance(v, dict)}))
