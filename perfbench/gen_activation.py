#!/usr/bin/env python3
"""Seeded inputs for the activation workloads.

    python3 perfbench/gen_activation.py <out dir> <activation_first|activation_delta> <seed>

Writes one single-file parquet source per destination under <out>/src, the
pre-seeded `_uploaded` logs of a delta run under <out>/seeded, and
<out>/manifest.json: the megalista config, and per execution the rows and
requests a correct run produces, computed here from the generator's own
arithmetic. Every key is synthesized from the row id and the seed, so keys
are unique by construction.

activation_first draws events-shaped rows (30-day window, five event types);
activation_delta draws lineitem-shaped rows with strictly increasing times,
and its logs hold every key except the newest 5% of each source.
"""
import json
import os
import sys

import duckdb

FIRST_ROWS, FIRST_AF_ROWS = 10000, 1000
DELTA_ROWS, DELTA_AF_ROWS = 100000, 10000
NEW_FRAC = 0.05

# destination -> (metadata, source columns)
DESTS = {
    "ADS_SSD_UPLOAD": (["Conv", "ext"], ["email", "time", "amount"]),
    "ADS_SSI_UPLOAD": (["Conv", "ext", "true", "ck"],
                       ["email", "time", "amount", "currency_code", "custom_value"]),
    "ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD": (["list", "ADD"], ["mobile_device_id"]),
    "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": (["list", "ADD"], ["email", "phone"]),
    "ADS_CUSTOMER_MATCH_USER_ID_UPLOAD": (["list", "ADD"], ["user_id"]),
    "ADS_OFFLINE_CONVERSION": (["Conv"], ["gclid", "time", "amount"]),
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID": (["Conv", "", "RESTATEMENT"],
                                                ["gclid", "time", "conversion_time", "amount"]),
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID": (["Conv", "", "RESTATEMENT"],
                                                   ["order_id", "time", "amount"]),
    "ADS_OFFLINE_CONVERSION_CALLS": (["Conv"], ["caller_id", "call_time", "time", "amount"]),
    "ADS_ENHANCED_CONVERSION_LEADS": (["Conv"], ["uuid", "time", "amount", "email"]),
    "GA_USER_LIST_UPLOAD": (["wp1", "view1", "import1", "list1", "cd1", "cd2"], ["user_id"]),
    "GA_DATA_IMPORT": (["wp1", "import1"], ["cd1", "cd2"]),
    "GA_MEASUREMENT_PROTOCOL": (["UA-1", "1"],
                                ["uuid", "client_id", "event_category", "event_action"]),
    "GA_4_MEASUREMENT_PROTOCOL": (["secret", "true", "false", "false", "", "G-1"],
                                  ["uuid", "client_id", "name"]),
    "CM_OFFLINE_CONVERSION": (["fl_act", "fl_cfg"], ["uuid", "gclid"]),
    "DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": (["adv1", "list1"], ["email", "phone"]),
    "DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD": (["adv1", "list1"], ["mobile_device_id"]),
    "APPSFLYER_S2S_EVENTS": (["com.app"], ["uuid", "appsflyer_id", "event_eventName"]),
}

# transactional destinations -> `_uploaded` key columns
KEYS = {
    "ADS_OFFLINE_CONVERSION": ["gclid", "time"],
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID": ["gclid", "time"],
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID": ["order_id", "time"],
    "ADS_ENHANCED_CONVERSION_LEADS": ["uuid"],
    "GA_MEASUREMENT_PROTOCOL": ["uuid"],
    "GA_4_MEASUREMENT_PROTOCOL": ["uuid"],
    "CM_OFFLINE_CONVERSION": ["uuid"],
    "APPSFLYER_S2S_EVENTS": ["uuid"],
}

# uploader batch arithmetic: (batch size, requests per batch, requests per
# row, extra requests of the first batch)
BATCHING = {
    "ADS_SSD_UPLOAD": (5000, 3, 0, 0),
    "ADS_SSI_UPLOAD": (5000, 3, 0, 0),
    "ADS_CUSTOMER_MATCH_MOBILE_DEVICE_ID_UPLOAD": (5000, 2, 0, 2),
    "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": (5000, 2, 0, 2),
    "ADS_CUSTOMER_MATCH_USER_ID_UPLOAD": (5000, 2, 0, 2),
    "ADS_OFFLINE_CONVERSION": (2000, 1, 0, 0),
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_GCLID": (2000, 1, 0, 0),
    "ADS_OFFLINE_CONVERSION_ADJUSTMENT_ORDER_ID": (2000, 1, 0, 0),
    "ADS_OFFLINE_CONVERSION_CALLS": (2000, 1, 0, 0),
    "ADS_ENHANCED_CONVERSION_LEADS": (2000, 1, 0, 0),
    "GA_USER_LIST_UPLOAD": (5000000, 2, 0, 0),
    "GA_DATA_IMPORT": (1000000, 1, 0, 1),
    "GA_MEASUREMENT_PROTOCOL": (20, 1, 0, 0),
    "GA_4_MEASUREMENT_PROTOCOL": (20, 0, 1, 0),
    "CM_OFFLINE_CONVERSION": (1000, 1, 0, 0),
    "DV_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD": (5000, 1, 0, 0),
    "DV_CUSTOMER_MATCH_DEVICE_ID_UPLOAD": (5000, 1, 0, 0),
    "APPSFLYER_S2S_EVENTS": (1000, 0, 1, 0),
}


def expected_requests(dest, rows):
    size, per_batch, per_row, first_extra = BATCHING[dest]
    batches = (rows + size - 1) // size
    return batches * per_batch + rows * per_row + (first_extra if rows else 0)


def column_sql(name):
    sid = "id::VARCHAR"
    return {
        "email": f"'user' || {sid} || '.' || $seed || '@example.com'",
        "time": "t", "call_time": "t", "conversion_time": "t",
        "amount": "amt",
        "currency_code": "'USD'",
        "custom_value": "label",
        "mobile_device_id": f"'dev-' || $seed || '-' || {sid}",
        "phone": f"'+1555' || lpad({sid}, 8, '0')",
        "user_id": f"'crm-' || $seed || '-' || {sid}",
        "gclid": f"'gclid-' || $seed || '-' || {sid}",
        "order_id": f"'o-' || $seed || '-' || {sid}",
        "caller_id": f"'+5511' || lpad({sid}, 8, '0')",
        "uuid": f"'u-' || $seed || '-' || {sid}",
        "cd1": f"'cd1-' || {sid}",
        "cd2": "label",
        "client_id": "'c' || user_id_draw::VARCHAR",
        "event_category": "'cat'",
        "event_action": "label", "name": "label", "event_eventName": "label",
        "appsflyer_id": f"'af-' || {sid}",
    }[name] + f" AS {name}"


def base_sql(n, stream, delta):
    """Per-row draws: hash of (row id, stream, seed)."""
    def draw(k, m):
        return f"(hash(id * 1000003 + {k} * 7919 + {stream} * 104729 + $seed) % {m})"
    sec = f"id * 7 + {draw(1, 7)}" if delta else draw(1, 30 * 86400)
    labels = "['A','N','R']" if delta else "['click','view','purchase','scroll','share']"
    nlab = 3 if delta else 5
    return f"""
      SELECT id,
        strftime(TIMESTAMP '2024-01-01' + to_seconds(({sec})::BIGINT), '%Y-%m-%dT%H:%M:%S')
          || '.000000' AS t,
        printf('%.2f', {draw(2, 5000000)} / 100.0) AS amt,
        ({labels})[1 + {draw(3, nlab)}::INT] AS label,
        {draw(4, 15000)} AS user_id_draw
      FROM range(0, {n}) r(id)"""


def generate(out, workload, seed):
    delta = workload == "activation_delta"
    dests = sorted(KEYS) if delta else list(DESTS)
    os.makedirs(f"{out}/src", exist_ok=True)
    os.makedirs(f"{out}/seeded", exist_ok=True)
    con = duckdb.connect()
    execs, sources = [], {}
    for i, dest in enumerate(dests):
        meta, cols = DESTS[dest]
        af = dest == "APPSFLYER_S2S_EVENTS"
        if delta:
            n = DELTA_AF_ROWS if af else DELTA_ROWS
        else:
            n = FIRST_AF_ROWS if af else FIRST_ROWS
        path = f"{out}/src/{dest}.parquet"
        body = (f"SELECT id, {', '.join(column_sql(c) for c in cols)} "
                f"FROM ({base_sql(n, i, delta)}) ORDER BY id")
        con.execute(f"CREATE OR REPLACE TEMP TABLE s AS {body}", {"seed": seed})
        con.execute(f"COPY (SELECT {', '.join(cols)} FROM s ORDER BY id) TO '{path}' "
                    "(FORMAT parquet, ROW_GROUP_SIZE 10000000)")
        cut = n - round(n * NEW_FRAC) if delta else 0
        entry = {"dest": dest, "path": path, "rows": n, "fresh": n - cut, "keys": KEYS.get(dest, [])}
        if dest in KEYS:
            entry["log"] = f"{out}/src/{dest}_uploaded_{dest}.parquet"
            if cut:
                # a directory, like the logs Spark appends to; TIMESTAMPTZ is
                # written as a UTC-adjusted parquet timestamp, the type the
                # `_uploaded` log schema declares
                entry["seeded"] = f"{out}/seeded/{dest}.parquet"
                os.makedirs(entry["seeded"], exist_ok=True)
                con.execute(f"COPY (SELECT now()::TIMESTAMPTZ AS timestamp, "
                            f"{', '.join(KEYS[dest])} FROM s WHERE id < {cut} ORDER BY id) "
                            f"TO '{entry['seeded']}/part-00000.parquet' (FORMAT parquet)")
        sources[dest] = entry
        execs.append({"dest": dest, "destName": f"dst {dest}", "metadata": meta,
                      "source": f"src {dest}"})
    if not delta:
        crm = "ADS_CUSTOMER_MATCH_CONTACT_INFO_UPLOAD"
        execs.append({"dest": crm, "destName": f"dst {crm} audience 2",
                      "metadata": ["list2", "ADD"], "source": f"src {crm}"})
    for e in execs:
        src = sources[e["dest"]]
        n = src["fresh"] if e["dest"] in KEYS else src["rows"]
        e["key"] = f"{e['source']} -> {e['destName']}"
        e["rows"] = n
        e["requests"] = expected_requests(e["dest"], n)
    config = {
        "GoogleAdsAccountId": "1234567890", "GoogleAnalyticsAccountId": "567890",
        "CampaignManagerProfileId": "999", "AppId": "app.id",
        "Sources": [{"Name": f"src {d}", "Type": "FILE", "Dataset": "parquet",
                     "Table": sources[d]["path"]} for d in dests],
        "Destinations": [{"Name": e["destName"], "Type": e["dest"], "Metadata": e["metadata"]}
                         for e in execs],
        "Connections": [{"Enabled": True, "Source": e["source"], "Destination": e["destName"]}
                        for e in execs],
    }
    # the pipeline reads each source once per destination type
    rows_read = sum(sources[d]["rows"] for d in {e["dest"] for e in execs})
    manifest = {"config": json.dumps(config), "executions": execs,
                "sources": list(sources.values()), "rows_read": rows_read}
    with open(f"{out}/manifest.json", "w") as fh:
        json.dump(manifest, fh, indent=1)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
