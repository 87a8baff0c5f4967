#!/usr/bin/env python3
"""Seeded generator for candy-store inputs in the reference schema.

Writes `products.csv` and one `transactions_yyyyMMdd.json` array per day:
nested `items` (1-5 per transaction, a product may repeat within one),
null `qty` lines, over-stock lines that can never fill, release-after-cancel
cases (a small line fills after a larger one was cancelled) and stock that
carries over from day to day. At 10 days x 1,000 transactions the shape
follows the reference's dataset_5 (BASELINE.md): 30 customers, ~3 lines per
transaction, ~7.5% null `qty`, ~0.4% of the other lines cancelled and
~1.7% of transactions with only null lines. The same arguments give the same
bytes; `digest` hashes the files so a record can show it.

Usage: python3 perfbench/gen_candy.py <out_dir> <seed> <days> <tx_per_day> <zipf_s>
"""
import datetime
import hashlib
import json
import os
import random
import sys

START = datetime.date(2024, 2, 1)
N_PRODUCTS = 36
CATEGORIES = [("Chocolate", "Bar", "Rectangle"), ("Gummy", "Bear", "Animal"),
              ("Hard Candy", "Drop", "Round"), ("Licorice", "Twist", "Rope"),
              ("Sour", "Belt", "Strip"), ("Mint", "Tablet", "Disc")]
FLAVOURS = ["Cherry", "Lemon", "Mango", "Cola", "Apple", "Berry"]


def products(rng):
    rows = []
    for pid in range(1, N_PRODUCTS + 1):
        cat, sub, shape = CATEGORIES[(pid - 1) % len(CATEGORIES)]
        name = f"{FLAVOURS[(pid - 1) // len(CATEGORIES)]} {cat} {sub} {pid}"
        price = rng.randint(99, 899)
        cost = price * rng.randint(35, 65) // 100
        rows.append([pid, name, cat, sub, shape, price, cost])
    return rows


def generate(out_dir, seed, days, tx_per_day, zipf_s):
    """Write the inputs; returns the number of order lines, null-qty ones included."""
    rng = random.Random(seed)
    prods = products(rng)
    weights = [1.0 / (rank ** zipf_s) for rank in range(1, N_PRODUCTS + 1)]
    rng.shuffle(weights)
    total_w = sum(weights)
    n_customers = 30
    null_rate, over_rate = 0.075, 0.001
    # expected units asked per product: 3 items and qty 3 on average
    demand = [days * tx_per_day * 3 * (1 - null_rate) * 3.0 * w / total_w for w in weights]
    # most products have ample stock; three run out late in the range, so
    # their last lines cancel while smaller ones still fill, and the rest
    # carry their stock from day to day
    short = set(rng.sample(range(N_PRODUCTS), 3))
    stock = [max(5, int(d * (rng.uniform(0.9, 0.96) if i in short else rng.uniform(1.15, 1.6))))
             for i, d in enumerate(demand)]
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "products.csv"), "w", newline="") as fh:
        fh.write("product_id,product_name,product_category,product_subcategory,"
                 "product_shape,sales_price,cost_to_make,stock\n")
        for (pid, name, cat, sub, shape, price, cost), st in zip(prods, stock):
            fh.write(f"{pid},{name},{cat},{sub},{shape},"
                     f"{price // 100}.{price % 100:02d},{cost // 100}.{cost % 100:02d},{st}\n")

    ids = list(range(1, N_PRODUCTS + 1))
    tx_id = 0
    lines = 0
    for day in range(days):
        date = START + datetime.timedelta(days=day)
        n_tx = max(1, int(tx_per_day * rng.uniform(0.85, 1.15)))
        stamps = sorted(rng.randrange(86_400_000_000) for _ in range(n_tx))
        txs = []
        for us in stamps:
            tx_id += rng.randint(1, 3)
            picked = rng.choices(ids, weights, k=rng.randint(1, 5))
            items = []
            for p in picked:
                r = rng.random()
                if r < null_rate:
                    qty = None
                elif r < null_rate + over_rate:
                    qty = stock[p - 1] + rng.randint(1, 50)  # over-stock: never fills
                else:
                    qty = rng.randint(1, 5)
                items.append({"product_id": p, "product_name": prods[p - 1][1], "qty": qty})
            lines += len(items)
            secs, micros = divmod(us, 1_000_000)
            ts = (datetime.datetime.combine(date, datetime.time())
                  + datetime.timedelta(seconds=secs))
            txs.append({"transaction_id": tx_id, "customer_id": rng.randint(1, n_customers),
                        "timestamp": f"{ts:%Y-%m-%dT%H:%M:%S}.{micros:06d}", "items": items})
        with open(os.path.join(out_dir, f"transactions_{date:%Y%m%d}.json"), "w") as fh:
            json.dump(txs, fh)
    return lines


def digest(out_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


if __name__ == "__main__":
    out, seed, days, tpd, s = sys.argv[1:6]
    n = generate(out, int(seed), int(days), int(tpd), float(s))
    print(json.dumps({"lines": n, "sha256": digest(out)}))
