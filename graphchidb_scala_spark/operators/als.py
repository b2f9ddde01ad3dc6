"""ALS matrix factorization — parity with the reference's hand-rolled ALS
(ALSMatrixFactorization.scala:130-223: D=10, lambda=0.065, Cholesky solve,
predictRating, computeRMSE), delegated to ``pyspark.ml.recommendation.ALS``
(distributed blocked ALS — the idiomatic Spark path; the reference's
per-vertex FactorVec column becomes the model's user/item factor DataFrames).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphchidb_scala_spark.session import local_table


def train_als(
    ratings: DataFrame,
    rank: int = 10,
    reg_param: float = 0.065,
    max_iter: int = 10,
    seed: int = 42,
    user_col: str = "src",
    item_col: str = "dst",
    rating_col: str = "rating",
):
    """Train ALS on a (user, item, rating) edge DataFrame. D and lambda default
    to the reference's constants (ALSMatrixFactorization.scala:56-57)."""
    from pyspark.ml.recommendation import ALS

    als = ALS(
        rank=rank,
        regParam=reg_param,
        maxIter=max_iter,
        seed=seed,
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        coldStartStrategy="drop",
        nonnegative=False,
    )
    return als.fit(
        ratings.select(
            F.col(user_col).cast("int").alias(user_col),
            F.col(item_col).cast("int").alias(item_col),
            F.col(rating_col).cast("float").alias(rating_col),
        )
    )


def predict_ratings(model, pairs: DataFrame, user_col: str = "src", item_col: str = "dst") -> DataFrame:
    """Predict ratings for (user, item) pairs — reference ``predictRating``
    (ALSMatrixFactorization.scala:196-202: factor dot product)."""
    return model.transform(
        pairs.select(F.col(user_col).cast("int").alias(user_col), F.col(item_col).cast("int").alias(item_col))
    )


def rmse(model, ratings: DataFrame, user_col: str = "src", item_col: str = "dst", rating_col: str = "rating") -> float:
    """Root-mean-square error over observed ratings — reference
    ``computeRMSE`` (ALSMatrixFactorization.scala:204-214)."""
    pred = model.transform(
        ratings.select(
            F.col(user_col).cast("int").alias(user_col),
            F.col(item_col).cast("int").alias(item_col),
            F.col(rating_col).cast("float").alias(rating_col),
        )
    )
    row = pred.agg(
        F.sqrt(F.avg(F.pow(F.col(rating_col) - F.col("prediction"), F.lit(2)))).alias("rmse")
    ).collect()[0]
    return float(row["rmse"])


def recommend_for_user(model, user: int, k: int = 20) -> DataFrame:
    """Top-k items for one user — reference ``recommendForUser`` pattern
    (MovieDatabase.scala:155-162: score all, sort desc, take 20)."""
    users = local_table(model.userFactors.sparkSession, "src int", [int(user)])
    recs = model.recommendForUserSubset(users, k)
    return recs.select(F.explode("recommendations").alias("r")).select(
        F.col("r.dst").cast("bigint").alias("id"), F.col("r.rating").alias("score")
    )
